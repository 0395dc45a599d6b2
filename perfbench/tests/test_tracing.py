"""Span bookkeeping: nesting, self time, untimed exclusion, patching."""

from __future__ import annotations

import sys
import types

import pytest

from perfbench.tracing import Span, Tracer, self_times


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent)


def test_self_time_subtracts_children():
    spans = [_span(1, 0, 10), _span(2, 1, 3, 1), _span(3, 5, 9, 1), _span(4, 6, 7, 3)]
    own = self_times(spans)
    assert own == {1: 4, 2: 2, 3: 3, 4: 1}


def test_self_time_merges_overlap_and_clips():
    # overlapping children count once; a child running past its parent's
    # end is clipped to the parent's interval
    spans = [_span(1, 0, 10), _span(2, 2, 6, 1), _span(3, 4, 8, 1), _span(4, 9, 12, 1)]
    assert self_times(spans)[1] == pytest.approx(10 - 6 - 1)


def test_tracer_nests_and_excludes_untimed():
    tr = Tracer()
    tr.op = 7
    with tr.span("op") as op:
        with tr.span("work") as work:
            with tr.span("count", untimed=True) as count:
                with tr.span("inner", untimed=True) as inner:
                    pass
    assert work.parent == op.id and count.parent == work.id and inner.parent == count.id
    assert {s.op for s in tr.spans} == {7}
    assert work.timed == pytest.approx(work.duration - count.duration)
    assert op.timed == pytest.approx(op.duration - count.duration)
    assert count.timed == pytest.approx(count.duration - inner.duration)


def test_wrap_patches_every_binding_unpatches_and_repatches():
    pkg = types.ModuleType("fakepkg_perfbench")
    sub = types.ModuleType("fakepkg_perfbench.user")

    def f(x):
        return x + 1

    pkg.f = f
    sub.f = f
    sys.modules[pkg.__name__] = pkg
    sys.modules[sub.__name__] = sub
    try:
        tr = Tracer()
        tr.wrap(pkg, "f", lambda x: f"f.{x}")
        assert pkg.f(1) == 2 and sub.f(2) == 3
        assert [s.name for s in tr.spans] == ["f.1", "f.2"]
        tr.unpatch()
        assert pkg.f is f and sub.f is f
        assert pkg.f(3) == 4 and len(tr.spans) == 2
        tr.repatch()
        assert pkg.f(4) == 5 and sub.f is pkg.f
        assert [s.name for s in tr.spans] == ["f.1", "f.2", "f.4"]
    finally:
        del sys.modules[pkg.__name__], sys.modules[sub.__name__]


def test_ungrouped_jobs_go_to_innermost_span():
    tr = Tracer()
    tr.spans = [_span(1, 100.0, 110.0), _span(2, 101.0, 105.0, 1)]
    jobs = [
        {"jobId": 1, "submissionTime": "1970-01-01T00:01:42.000GMT"},  # 102 s
        {"jobId": 2, "submissionTime": "1970-01-01T00:01:47.000GMT"},  # 107 s
        {"jobId": 3, "submissionTime": "1970-01-01T00:01:42.000GMT", "jobGroup": "perfbench-span-2"},
        {"jobId": 4, "submissionTime": "1970-01-01T00:03:00.000GMT"},  # outside
    ]
    got = {sid: [j["jobId"] for j in js] for sid, js in tr.ungrouped_jobs(jobs).items()}
    assert got == {2: [1], 1: [2]}
