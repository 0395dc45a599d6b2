"""Lazily-constructed merged-state frames must (a) build identical
frames to the eager merges, (b) defer construction of tables a consumer
never reads — semantic tables included — and (c) keep the stream/MERGE
paths (frames(), replace) working unchanged. Plus the rollup release
handles."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.corpus_incremental import (
    CorpusState,
    _LazyCorpusState,
    apply_increment_detailed,
    build_state_detailed,
    state_rollup,
    state_rollup_detailed,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    row = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    thr = int(row["hi"]) - (int(row["hi"]) - int(row["lo"])) // 5
    return (
        docs.filter(F.col("doc_id") < thr),
        docs.filter(F.col("doc_id") >= thr),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


LEXICAL = {"fp", "shingles", "bands", "edges", "skeleton"}


@pytest.mark.parametrize("semantic", [False, True], ids=["lexical", "semantic"])
def test_lazy_fields_defer_and_memoize(spark, semantic):
    lazy = ["fp", "skeleton"] + (["cells", "sem_edges"] if semantic else [])
    calls = dict.fromkeys(lazy, 0)
    base = spark.range(1).selectExpr("id AS doc_id")

    def mk(name):
        def thunk():
            calls[name] += 1
            return base

        return thunk

    fields = {n: base for n in LEXICAL} | {n: mk(n) for n in lazy}
    st = _LazyCorpusState(**fields)
    assert set(calls.values()) == {0}  # nothing built yet
    _ = st.skeleton
    assert calls["skeleton"] == 1 and calls["fp"] == 0  # only that field
    _ = st.skeleton
    assert calls["skeleton"] == 1  # memoized
    assert (st.cells is None) is not semantic
    want = LEXICAL | ({"cells", "sem_edges"} if semantic else set())
    assert set(st.frames()) == want  # absent semantic tables are omitted
    assert set(calls.values()) == {1}  # frames() forces the rest, once


def test_lazy_state_replace_forces_to_plain_frames(spark):
    base = spark.range(1).selectExpr("id AS doc_id")
    st = _LazyCorpusState(
        fp=lambda: base, shingles=base, bands=base, edges=base, skeleton=base
    )
    st2 = replace(st, edges=base.selectExpr("doc_id AS x"))
    assert isinstance(st2, CorpusState)
    assert st2.fp is base  # forced through getattr, stored materialized


def test_increment_lazy_equals_eager_merges(spark, split):
    base, batch = split
    built = build_state_detailed(base)
    inc = apply_increment_detailed(built.state, batch)
    # force every lazy field and compare against a fresh eager recompute
    # over the union (the module's own parity contract)
    full = build_state_detailed(base.unionByName(batch))
    for name, frame in inc.state.frames().items():
        assert _rows(frame) == _rows(full.state.frames()[name]), name
    assert _rows(state_rollup(inc.state)) == _rows(
        state_rollup(full.state)
    )
    inc.release()
    built.release()
    full.release()
    spark.catalog.clearCache()


def test_rollup_detailed_release_path(spark, split):
    base, _batch = split
    built = build_state_detailed(base)
    res = state_rollup_detailed(built.state)
    n_before = len(
        [r for r in res.persisted if r.storageLevel.useMemory]
    )
    assert n_before == 2  # merged skeleton + canonical survivors
    res.rollup.write.format("noop").mode("overwrite").save()
    res.release()
    assert all(not f.storageLevel.useMemory for f in res.persisted)
    built.release()
    spark.catalog.clearCache()
