"""Round-13 measurement: where does the recurring per-invocation cost of
the corpus/incremental family go?  Splits each heavy query's warm cost
into (a) DataFrame CONSTRUCTION sub-steps (Catalyst analysis + any eager
work such as the closure's adjacency checkpoint) and (b) the noop-sink
execution — guide §1 "measure first" for VERDICT r12 directive #1.

Usage: python tools/profile_plan_cost.py [repeat]
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from personal_data_lakehouse_spark.session import get_spark


def timed(label, fn, out):
    t0 = time.perf_counter()
    r = fn()
    out[label] = round(time.perf_counter() - t0, 3)
    return r


def profile_incremental(spark, sf_dir, out):
    """t_corpus_pipeline_incremental construction, sub-step by sub-step."""
    from personal_data_lakehouse_spark.corpus_incremental import (
        apply_increment_detailed,
        state_rollup,
    )
    from personal_data_lakehouse_spark.plans import round9_ops
    from personal_data_lakehouse_spark.plans.registry import t as t_

    docs = t_(spark, sf_dir, "documents")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    state = timed(
        "inc.state_read",
        lambda: round9_ops._materialized_base_state(spark, sf_dir, base),
        out,
    )
    inc = timed(
        "inc.apply_increment", lambda: apply_increment_detailed(state, batch), out
    )
    rollup = timed("inc.state_rollup", lambda: state_rollup(inc.state), out)
    timed(
        "inc.noop_exec",
        lambda: rollup.write.format("noop").mode("overwrite").save(),
        out,
    )
    spark.catalog.clearCache()


def profile_merge_analysis(spark, sf_dir, out):
    """Catalyst-analysis cost of EACH merged-state frame construction
    (no action run): how much do the unused merges cost per invocation?"""
    from personal_data_lakehouse_spark.corpus_incremental import (
        STATE_KEYS,
        apply_increment_detailed,
    )
    from personal_data_lakehouse_spark.operators.merge import (
        merge_insert_only,
    )
    from personal_data_lakehouse_spark.plans import round9_ops
    from personal_data_lakehouse_spark.plans.registry import t as t_

    docs = t_(spark, sf_dir, "documents")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)
    state = round9_ops._materialized_base_state(spark, sf_dir, base)
    inc = apply_increment_detailed(state, batch)
    # each merge built standalone from the increment's own inserts
    for name in ("fp", "skeleton"):
        timed(
            f"merge.{name}",
            lambda: merge_insert_only(
                getattr(state, name), inc.inserts[name], STATE_KEYS[name]
            ),
            out,
        )
    inc.release()
    spark.catalog.clearCache()


def profile_stream(spark, sf_dir, out):
    """t_stream_corpus_increments: per-batch split — apply_increment
    construction vs the five localCheckpoints vs rollup."""
    from personal_data_lakehouse_spark.corpus_incremental import (
        CorpusState,
        apply_increment_detailed,
        per_table,
        state_rollup,
    )
    from personal_data_lakehouse_spark.plans import round9_ops
    from personal_data_lakehouse_spark.plans.registry import t as t_
    from personal_data_lakehouse_spark.streaming.windows import (
        drain_stream_foreach,
        stream_work_dir,
    )

    docs = t_(spark, sf_dir, "documents")
    thr = round9_ops._inc_threshold(spark, sf_dir, docs)
    base = docs.filter(F.col("doc_id") < thr)
    batch_docs = docs.filter(F.col("doc_id") >= thr)
    state0 = round9_ops._materialized_base_state(spark, sf_dir, base)
    src, doc_schema = round9_ops.delta_stream_source(spark, sf_dir, batch_docs)
    work = stream_work_dir("profile_corpincstream")
    carried = {"state": state0}
    batch_times = []

    def process_batch(batch, _bid):
        t0 = time.perf_counter()
        inc = apply_increment_detailed(carried["state"], batch)
        t1 = time.perf_counter()
        cps = per_table(
            spark, lambda _n, f: f.localCheckpoint(), inc.state.frames()
        )
        t2 = time.perf_counter()
        inc.release()
        carried["state"] = CorpusState(**cps)
        batch_times.append(
            {"construct": round(t1 - t0, 3), "checkpoint": round(t2 - t1, 3)}
        )

    t0 = time.perf_counter()
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain_stream_foreach(stream, work, process_batch)
    out["stream.drain_total"] = round(time.perf_counter() - t0, 3)
    out["stream.batches"] = batch_times
    rollup = timed(
        "stream.rollup_construct", lambda: state_rollup(carried["state"]), out
    )
    timed(
        "stream.rollup_exec",
        lambda: rollup.write.format("noop").mode("overwrite").save(),
        out,
    )
    spark.catalog.clearCache()


def profile_admit_v2(spark, sf_dir, out):
    """q_stream_semdedup_admit_v2: per-batch job count + wall."""
    import __spark_entry__ as entry  # noqa: F401  (registers queries)
    from personal_data_lakehouse_spark.plans.registry import REGISTRY

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("admitv2_profile", "admitv2_profile")
    t0 = time.perf_counter()
    df = REGISTRY["q_stream_semdedup_admit_v2"].fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    spark.sparkContext.setJobGroup(None, None)
    jobs = tracker.getJobIdsForGroup("admitv2_profile") or []
    out["admitv2.construct_and_drain"] = round(t1 - t0, 3)
    out["admitv2.noop_exec"] = round(t2 - t1, 3)
    out["admitv2.jobs_total"] = len(jobs)
    spark.catalog.clearCache()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark(app_name="pdl-profile-plan")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    runs = []
    for i in range(repeat):
        out: dict = {}
        profile_incremental(spark, sf_dir, out)
        profile_merge_analysis(spark, sf_dir, out)
        profile_stream(spark, sf_dir, out)
        profile_admit_v2(spark, sf_dir, out)
        runs.append(out)
        print(json.dumps({"run": i, **out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
