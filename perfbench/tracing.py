"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around calls INTO the engine: the tracer patches module
attributes at run time (``Tracer.wrap``) and restores them afterwards, so the
engine package itself carries no tracing code. Each span keeps its name,
start, end, parent and operation id; nothing is written until the run ends.

Spark work is attributed to spans through job groups: entering a span sets
the thread's ``spark.jobGroup.id`` to the span's own group (restoring the
caller's on exit), so every job a span submits on the driver thread lands
in the innermost open span. ``SparkStatusTracker`` maps groups to jobs,
stages and task counts; the monitoring REST API (served by the Spark UI,
which only the traced run enables) adds per-stage executor run time,
shuffle bytes and input/output bytes. Jobs that carry another group are
attributed by submission time instead: a Structured Streaming query runs
its micro-batches on its own thread under the query's run id as job group.

Single-threaded by design: spans nest on one stack, the driver thread's.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import sys
import time
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    untimed: bool = False
    excluded: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def timed(self) -> float:
        """Duration minus time spent in ``untimed`` descendants (the
        tracer's own bookkeeping, e.g. row counts taken for ratios)."""
        return self.duration - self.excluded


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (children's intervals are clipped to the parent and
    merged, so overlapping children are not subtracted twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class Tracer:
    """Records spans; optionally binds them to a SparkContext's job groups."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._next_id = 1
        self._patches: list[tuple[object, str, object, object]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, untimed: bool = False, **attrs):
        s = Span(
            id=self._next_id,
            name=name,
            start=0.0,
            parent=self._stack[-1].id if self._stack else None,
            op=self.op,
            untimed=untimed,
            attrs=attrs,
        )
        self._next_id += 1
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + str(s.id))
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if untimed:
                for anc in self._stack:
                    anc.excluded += s.timed
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    # -- patching --------------------------------------------------------
    def wrap(
        self, module, attr: str, name: str | Callable[..., str], everywhere: bool = True
    ) -> None:
        """Record a span around every call of ``module.attr``; ``name`` is
        the span name or a function of the call's arguments."""

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                label = name(*args, **kwargs) if callable(name) else name
                with self.span(label):
                    return orig(*args, **kwargs)

            return wrapper

        self.patch(module, attr, make, everywhere)

    def patch(self, module, attr: str, make: Callable, everywhere: bool = True) -> None:
        """Replace ``module.attr`` with ``make(original)``; ``unpatch``
        restores the original and ``repatch`` puts the replacement back.

        With ``everywhere`` every other binding of the same function object
        in loaded engine modules is replaced too (``from x import f`` copies
        the reference)."""
        orig = getattr(module, attr)
        replacement = make(orig)
        targets = [module]
        if everywhere:
            pkg = module.__name__.split(".")[0]
            targets += [
                m
                for n, m in list(sys.modules.items())
                if m is not module
                and (n == pkg or n.startswith(pkg + "."))
                and getattr(m, attr, None) is orig
            ]
        for m in targets:
            self._patches.append((m, attr, orig, replacement))
            setattr(m, attr, replacement)

    def unpatch(self) -> None:
        for m, attr, orig, _ in reversed(self._patches):
            setattr(m, attr, orig)

    def repatch(self) -> None:
        for m, attr, _, replacement in self._patches:
            setattr(m, attr, replacement)

    # -- Spark attribution -----------------------------------------------
    def spark_attribution(self) -> dict[int, dict]:
        """Span id -> {"jobs", "tasks", "stages": [stage ids]} for the jobs
        the span itself submitted (not its descendants)."""
        if self.sc is None:
            return {}
        st = self.sc.statusTracker()
        out: dict[int, dict] = {}
        for s in self.spans:
            jobs = list(st.getJobIdsForGroup(GROUP_PREFIX + str(s.id)))
            stages: list[int] = []
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.extend(info.stageIds)
            tasks = 0
            for sid in stages:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
            out[s.id] = {"jobs": len(jobs), "tasks": tasks, "stages": stages}
        return out

    def ungrouped_jobs(self, rest_jobs: list[dict]) -> dict[int, list[dict]]:
        """Jobs carrying no span group (a streaming query's micro-batches),
        each assigned to the innermost span whose interval holds its
        submission time."""
        out: dict[int, list[dict]] = {}
        for job in rest_jobs:
            if str(job.get("jobGroup", "")).startswith(GROUP_PREFIX):
                continue
            t = rest_time(job.get("submissionTime"))
            if t is None:
                continue
            best = None
            for s in self.spans:
                if s.start <= t <= s.end and (best is None or s.start >= best.start):
                    best = s
            if best is not None:
                out.setdefault(best.id, []).append(job)
        return out

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON line each."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s.__dict__, "self_s": own[s.id]}, default=str) + "\n")


def rest_time(value: str | None) -> float | None:
    """Spark REST timestamps ("2026-01-01T00:00:00.123GMT") -> epoch s."""
    if not value:
        return None
    stamp = dt.datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


def rest_get(sc, path: str):
    """GET ``/api/v1/applications/<app>/<path>`` from the driver's UI."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)
