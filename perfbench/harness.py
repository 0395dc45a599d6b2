"""Session, measurement loop and metric assembly shared by every workload."""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.tracing import Span, Tracer, rest_get, self_times

# The metric catalogue: every name a run can print, with its unit. It must
# match BENCHMARK.json (perfbench/tests/test_names.py).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    # end-to-end figures of the traced run's untraced ops
    "ops_failed_frac": "ratio",
    "latency_samples": "count",
    "latency_tail_pct": "pct",
    "latency_tail_s": "s",
    "queries_per_s": "1/s",
    "quotes_per_s": "1/s",
    "docs_per_s": "1/s",
    # the tracer itself
    "trace.overhead_s": "s",
    "trace.op_self_s": "s",
    # Spark, per traced operation
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "spark.busy_frac": "ratio",
    "io.scan_tasks_per_core": "ratio",
    # engine layers (0 where the workload does not use the layer)
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "similarity.exec_s": "s",
    "streaming.batch_s": "s",
    "streaming.rows_per_batch": "count",
    "streaming.state_rows": "count",
    "io.rest.fetch_s": "s",
    "io.rest.rows": "count",
    "models.run_s.daily_stocks": "s",
    "models.run_s.monthly_summary": "s",
    "merge.merge_s": "s",
    "merge.insert_ratio": "ratio",
    "merge.write_amp": "ratio",
    "catalog.stored_bytes": "B",
    "corpus.stage_s.intake": "s",
    "corpus.stage_s.dedup_exact": "s",
    "corpus.stage_s.dedup_near": "s",
    "corpus.stage_s.rebalanced": "s",
    "corpus.stage_s.split": "s",
    "corpus.stage_s.packed": "s",
    "build_s": "s",
    "corpus.jobs_per_build": "count",
    "corpus_incremental.apply_s": "s",
    "corpus_incremental.jobs_per_increment": "count",
    "dedup.edges_added": "count",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of physical memory, clamped to 1..4 GiB: the session's own
    default (24g) exceeds small machines."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


@dataclass
class Phase:
    """The untraced or the traced ops of a run: per-op latencies
    (completed ops only)."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    op_spans: list[Span] = field(default_factory=list)


class Context:
    """What a workload sees: the session, its seed, a private work dir and
    the tracer of the current op (None when the op is untraced)."""

    def __init__(self, spark, seed: int, work: str, n_cores: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = n_cores
        self.tracer: Tracer | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def span(self, name: str, untimed: bool = False, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, untimed=untimed, **attrs)

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")


class Harness:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None

    def start_session(self):
        from personal_data_lakehouse_spark.session import get_spark

        n = cores()
        w = self.work
        # every JVM the session launches: temp files under the work dir, and
        # no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={w}/tmp"
        conf = {
            "spark.driver.memory": driver_heap(),
            "spark.local.dir": f"{w}/local",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.pyspark.python": sys.executable,
        }
        if self.trace:
            # the monitoring REST API is served by the UI; keep every job
            # and stage of the run for attribution
            conf.update(
                {
                    "spark.ui.enabled": "true",
                    "spark.ui.port": "0",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                }
            )
        return get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            warehouse_dir=f"{w}/warehouse",
            extra_conf=conf,
        )

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- measurement ------------------------------------------------------
    def measure(self, wl, tracer: Tracer | None = None) -> tuple[Phase, Phase]:
        """Run ops back to back for ``seconds``, then on until the op count
        is a multiple of ``wl.run_ops``, so every run has the same op mix.

        With a tracer, it runs twice as long, and whole blocks of
        ``wl.block`` ops alternate untraced and traced in the order
        u t t u u t t u ..., so both kinds of op see the same state, also
        where every op grows it or ops speed up as the JVM warms. Returns
        (untraced ops, traced ops)."""
        base, traced = Phase(), Phase()
        period = wl.run_ops * (2 if tracer else 1)
        seconds = self.seconds * (2 if tracer else 1)
        n = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or n % period:
            on = tracer is not None and n // wl.block % 4 in (1, 2)
            if tracer is not None and n % wl.block == 0:
                tracer.repatch() if on else tracer.unpatch()
            wl.ctx.tracer = tracer if on else None
            ph = traced if on else base
            wl.prepare()
            n += 1
            ph.attempted += 1
            t = time.perf_counter()
            try:
                if not on:
                    wl.op()
                    ph.latencies.append(time.perf_counter() - t)
                else:
                    tracer.op = n
                    with tracer.span("op") as s:
                        wl.op()
                    ph.op_spans.append(s)
                    ph.latencies.append(s.timed)
            except Exception:
                ph.failed += 1
                traceback.print_exc()
            wl.cleanup()
        wl.ctx.tracer = None
        if tracer is not None:
            tracer.unpatch()
        return base, traced

    def run(self) -> dict:
        from perfbench.workloads import WORKLOADS

        t0 = time.perf_counter()
        self.spark = self.start_session()
        ctx = Context(self.spark, self.seed, self.work, cores())
        wl = WORKLOADS[self.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        log(f"{self.workload}: setup {setup_s:.2f}s")
        stored = dir_bytes(ctx.warehouse)

        tracer = None
        if self.trace:
            tracer = Tracer(self.spark.sparkContext)
            wl.instrument(tracer)
        base, traced = self.measure(wl, tracer)
        log(f"{self.workload}: {len(base.latencies)} ops in {sum(base.latencies):.2f}s: "
            + " ".join(f"{x:.2f}" for x in base.latencies))
        if self.trace:
            log(f"{self.workload}: traced {len(traced.latencies)} ops")
            extra = wl.traced_extra(tracer)
            tracer.unpatch()
            out = os.path.join(os.getcwd(), ".perfbench_traces")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"{self.workload}-seed{self.seed}.jsonl"))

        failed_checks = wl.check()
        for msg in failed_checks:
            log(f"CHECK FAILED: {msg}")
        attempted = base.attempted + traced.attempted
        failed = base.failed + traced.failed + len(failed_checks)
        if not base.latencies or (self.trace and not traced.latencies):
            raise RuntimeError("no operation completed")
        if self.trace:
            values = self.layer_metrics(wl, base, traced, tracer, failed / attempted)
            values.update(extra)
            values["catalog.stored_bytes"] = stored
            units = PER_LAYER
        else:
            values, units = {
                "setup_s": setup_s,
                "latency_p50_s": stats.median(base.latencies),
                "ops_per_s": len(base.latencies) / sum(base.latencies),
            }, END_TO_END
        return {
            "correct": not failed_checks,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(values.items())},
        }

    # -- per-layer metrics ------------------------------------------------
    def layer_metrics(self, wl, base: Phase, traced: Phase, tracer: Tracer, failed_frac: float) -> dict:
        lat = base.latencies
        tail = stats.supported_percentile(len(lat))
        m = dict.fromkeys(PER_LAYER, 0.0)
        own = self_times(tracer.spans)
        ops = traced.op_spans
        m.update(
            {
                "ops_failed_frac": failed_frac,
                "latency_samples": len(lat),
                "latency_tail_pct": tail or 0.0,
                "latency_tail_s": stats.percentile(lat, tail) if tail else 0.0,
                "trace.overhead_s": stats.median(traced.latencies) - stats.median(lat),
                "trace.op_self_s": sum(own[s.id] for s in ops) / len(ops),
            }
        )
        rate_name, units_per_op = wl.throughput
        m[rate_name] = units_per_op * len(lat) / sum(lat)

        usage = SparkUsage(tracer, wl.ctx.spark.sparkContext)
        op_use = usage.of(ops)
        core_s = sum(s.timed for s in ops) * wl.ctx.cores
        scans = [
            usage.stages[sid]["numCompleteTasks"]
            for sid in op_use["stages"]
            if usage.stages.get(sid, {}).get("inputBytes", 0) > 0
        ]
        m.update(
            {
                "spark.jobs_per_op": op_use["jobs"] / len(ops),
                "spark.tasks_per_op": op_use["tasks"] / len(ops),
                "spark.shuffle_bytes_per_op": usage.stage_sum(op_use["stages"], "shuffleWriteBytes") / len(ops),
                "spark.busy_frac": usage.stage_sum(op_use["stages"], "executorRunTime") / 1000.0 / core_s,
                "io.scan_tasks_per_core": sum(scans) / len(scans) / wl.ctx.cores if scans else 0.0,
            }
        )
        m.update(wl.layer_metrics(tracer, usage, traced))
        return m


class SparkUsage:
    """Jobs, completed tasks and stage metrics per span subtree.

    Jobs come from the span's job group via ``SparkStatusTracker`` plus the
    jobs of other groups (streaming micro-batches) that the tracer assigns
    by submission time; per-stage
    executor run time, shuffle and input/output bytes come from the REST
    API (summed over stage attempts). Untimed spans — the tracer's own
    bookkeeping — and their subtrees are excluded."""

    STAGE_FIELDS = (
        "numCompleteTasks",
        "executorRunTime",
        "inputBytes",
        "outputBytes",
        "shuffleWriteBytes",
        "shuffleReadBytes",
    )

    def __init__(self, tracer: Tracer, sc):
        self.own = tracer.spark_attribution()
        self.stages: dict[int, dict] = {}
        for st in rest_get(sc, "stages?status=complete"):
            agg = self.stages.setdefault(st["stageId"], dict.fromkeys(self.STAGE_FIELDS, 0))
            for k in self.STAGE_FIELDS:
                agg[k] += st.get(k, 0)
        ungrouped = tracer.ungrouped_jobs(rest_get(sc, "jobs"))
        log(f"{sum(map(len, ungrouped.values()))} jobs without a span group, attributed by submission time")
        for sid, jobs in ungrouped.items():
            own = self.own.setdefault(sid, {"jobs": 0, "tasks": 0, "stages": []})
            for job in jobs:
                own["jobs"] += 1
                own["tasks"] += job.get("numCompletedTasks", 0)
                own["stages"] = [*own["stages"], *job.get("stageIds", [])]
        self.children: dict[int, list[Span]] = {}
        for s in tracer.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def of(self, roots: list[Span]) -> dict:
        jobs = tasks = 0
        stages: set[int] = set()
        todo = [s for s in roots if not s.untimed]
        while todo:
            s = todo.pop()
            own = self.own.get(s.id, {"jobs": 0, "tasks": 0, "stages": []})
            jobs += own["jobs"]
            tasks += own["tasks"]
            stages.update(own["stages"])
            todo.extend(c for c in self.children.get(s.id, []) if not c.untimed)
        return {"jobs": jobs, "tasks": tasks, "stages": stages}

    def stage_sum(self, stage_ids, key: str) -> float:
        return float(sum(self.stages.get(sid, {}).get(key, 0) for sid in stage_ids))
