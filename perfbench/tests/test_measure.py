"""The measurement loop: run length and the untraced/traced alternation."""

from __future__ import annotations

import time
from types import SimpleNamespace

from perfbench.harness import Harness
from perfbench.tracing import Tracer


class _Workload:
    block = 1
    run_ops = 5

    def __init__(self):
        self.ctx = SimpleNamespace(tracer=None)
        self.traced = []

    def prepare(self):
        pass

    def op(self):
        time.sleep(0.002)  # outlasts the 1 ms window
        self.traced.append(self.ctx.tracer is not None)

    def cleanup(self):
        pass


def test_untraced_run_ends_on_a_whole_run_length():
    wl = _Workload()
    base, traced = Harness("w", 0, 0.001, False, "").measure(wl)
    assert base.attempted == len(base.latencies) == 5
    assert traced.attempted == 0 and wl.traced == [False] * 5


def test_traced_run_alternates_u_t_t_u():
    wl = _Workload()
    tracer = Tracer()
    base, traced = Harness("w", 0, 0.001, True, "").measure(wl, tracer)
    assert wl.traced == [False, True, True, False, False, True, True, False, False, True]
    assert len(base.latencies) == len(traced.latencies) == 5
    assert [s.op for s in traced.op_spans] == [2, 3, 6, 7, 10]
    assert wl.ctx.tracer is None


def test_traced_blocks_alternate_whole():
    wl = _Workload()
    wl.block = wl.run_ops = 3
    base, traced = Harness("w", 0, 0.001, True, "").measure(wl, Tracer())
    assert wl.traced == [False] * 3 + [True] * 3
