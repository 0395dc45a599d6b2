"""Incremental corpus-pipeline runs: MERGE a new-docs batch through the
intake → exact-dedup → near-dedup (→ semantic-dedup) funnel against
EXISTING stage tables, with the merged end state provably equal to a
full recompute over the union.

This is the reference's defining semantic — watermark-incremental
processing (pipelines/stock_api/transforme_stock_silver.py:41-97) and
dedup-on-append MERGE (ingest_stocks.py:84-100) — applied to the
capstone ``corpus.corpus_pipeline``: a daily crawl delta must flow
through the same gates and dedup decisions WITHOUT re-shingling,
re-fingerprinting or re-embedding the existing corpus.

The persisted state is one type, ``CorpusState``: five lexical stage
tables, plus two semantic ones when the deploy runs SemDeDup in the
funnel:

* ``fp``        — (fp, keep_id): the exact-dedup fingerprint ledger;
* ``shingles``  — (doc_id, shingles): the LSH Jaccard-verify side;
* ``bands``     — (doc_id, band, bucket): the LSH band probe index;
* ``edges``     — (id_a, id_b): verified near-dup edges (id_a < id_b);
* ``skeleton``  — (doc_id, source, tok): exact-kept survivors with
  their stored whitespace-token counts — every downstream stage
  (closure, rebalance, split, pack, rollup) runs on this id+int
  skeleton, never re-reading text;
* ``cells``     — (doc_id, e array<float>, _vn double, cell), optional:
  the IVF cell index over survivors' embeddings — vector + precomputed
  norm stored WITH the cell id, exactly what the batch probe needs (the
  online admit loop's sink carries the same columns);
* ``sem_edges`` — (id_a, id_b), optional: verified semantic near-dup
  edges (rounded cosine ≥ ``SEM_THRESHOLD``, id_a < id_b).

The semantic stage is chosen by the data, not a flag: a build runs it
when it is given embeddings and a codebook; an increment runs it exactly
when the state carries ``cells`` (and then needs the batch's embeddings
and the same codebook); the rollup's closure covers lexical ∪ semantic
edges whenever ``sem_edges`` is present.

Incrementality contract (the append-only id invariant): every batch
doc_id must EXCEED every id already in the state. Under that invariant
the merged state equals the state a full rebuild over (base ∪ batch)
would produce, because every pipeline decision is a min-id/threshold
function that appends cannot retro-flip at the STAGE-TABLE level:

* exact dedup keeps MIN doc_id per fingerprint — a later id can never
  displace a stored keeper, so the ledger only gains rows (insert-only
  MERGE), and a batch doc whose fp is already in the ledger is dropped
  exactly as the full rebuild drops it;
* LSH banding and cell assignment are pure per-document functions — the
  stored index rows for base docs are what a rebuild would recompute;
  new candidate pairs are exactly the pairs a rebuild would add
  (batch×corpus via the stored index, batch×batch via self-join), so
  both edge tables also only gain rows;
* what CAN flip is the DERIVED canonical decision (a batch doc bridging
  two existing clusters — lexical, semantic, or one of each — merges
  them, re-pointing cluster minima) and the rebalance thresholds
  (global per-source counts move) — so those are recomputed from the
  merged SPARSE state (edge closure + skeleton counts) per run, never
  stored as if append-stable.

One increment produces one set of per-table INSERTS
(``IncrementResult.inserts``). The merged state is
``merge_insert_only(stored, insert)`` per table, built lazily; the
managed-table flavor (``run_increment``) checkpoints and MERGEs only the
inserts, so each table's insert-only anti-join runs once, inside
``merge_into_table``, which appends the new rows: a stored table's
existing files are never rewritten.

Work per increment: O(batch text) for gates/fingerprints/shingles,
O(batch vectors) for cell assignment, O(new candidate pairs) for
verification, O(total edges) for the closure (the adaptive
``connected_components`` — edges are the sparse edge-incident subgraph,
not the corpus), O(survivor ids) for rebalance/split/pack. The 100 TB
corpus' TEXT and VECTORS are touched exactly once per document, at the
increment that ingested it.

Reference parity: transforme_stock_silver.py:41-97 (incremental filter),
ingest_stocks.py:84-100 (MERGE dedup-on-append); SURVEY.md §2 P3/J1/J2
composed with the LLM-pipeline extension family.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.catalog import ensure_namespace
from personal_data_lakehouse_spark.corpus import (
    dedup_exact_stage,
    intake,
    packed_docs,
    pipeline_rollup,
    rebalance_stage,
    split_stage,
)
from personal_data_lakehouse_spark.dedup.cluster import dedup_clusters
from personal_data_lakehouse_spark.dedup.exact import exact_dedup
from personal_data_lakehouse_spark.dedup.minhash import lsh_index
from personal_data_lakehouse_spark.functions.text import (
    token_count_whitespace,
)
from personal_data_lakehouse_spark.operators.merge import (
    merge_insert_only,
    merge_into_table,
)

NEAR_THRESHOLD = 0.5  # verified-Jaccard keep bound, same as corpus.py

SEM_THRESHOLD = 0.3
"""Rounded-cosine keep bound for semantic edges. 0.3 (vs the standalone
``t_semdedup_clusters``' 0.4) so the fixture exercises BOTH incremental
pair generators naturally at both differential-gate SFs — measured over
the exact-kept survivors: batch×corpus bridges 46 (sf0.001) / 48
(sf0.01) and batch×batch pairs 5 / 5 at 0.3, versus 5 / 3 bridges and
ZERO batch×batch pairs at 0.4 (the v2-admit threshold precedent,
plans/round9_ops.py:157)."""


@dataclass
class CorpusState:
    """The persisted stage tables of an incremental corpus deploy: the
    five lexical tables, plus ``cells``/``sem_edges`` when the deploy
    runs the semantic stage."""

    fp: DataFrame
    shingles: DataFrame
    bands: DataFrame
    edges: DataFrame
    skeleton: DataFrame
    cells: DataFrame | None = None
    sem_edges: DataFrame | None = None

    def frames(self) -> dict[str, DataFrame]:
        """The tables this state carries, by name (absent ones omitted)."""
        return {
            n: f for n in STATE_KEYS if (f := getattr(self, n)) is not None
        }


# MERGE keys per stage table (all insert-only: see module docstring for
# why the stored tables only ever gain rows under the append-only id
# invariant — derived decisions that CAN flip are recomputed, not stored).
STATE_KEYS: dict[str, list[str]] = {
    "fp": ["fp"],
    "shingles": ["doc_id"],
    "bands": ["doc_id", "band"],
    "edges": ["id_a", "id_b"],
    "skeleton": ["doc_id"],
    "cells": ["doc_id"],
    "sem_edges": ["id_a", "id_b"],
}


class _LazyCorpusState(CorpusState):
    """``CorpusState`` whose fields may be ZERO-ARG THUNKS, resolved (and
    memoized) on first attribute access.

    PySpark pays Catalyst analysis eagerly at DataFrame construction, so
    building every merged-state frame per increment charges consumers
    that read only a subset — the derived-decision rollup reads skeleton,
    edges and (semantic) sem_edges, never fp/shingles/bands/cells. A
    thunk field defers that cost to first access; consumers that force
    everything (``frames()`` — the stream loop's per-batch checkpoint
    barrier) behave exactly as with eager frames. The resolved frame is
    written back to the instance, so repeated access analyses once.

    Plain-``DataFrame`` (and ``None``) fields pass through untouched,
    which keeps ``dataclasses.replace`` working: it forces every field
    (via getattr) and rebuilds an instance holding materialized frames.
    """

    def __getattribute__(self, name):
        val = object.__getattribute__(self, name)
        if name in STATE_KEYS and callable(val):
            val = val()
            object.__setattr__(self, name, val)
        return val


@dataclass
class IncrementResult:
    """A build's or increment's full return: the (merged) state, the rows
    each table gains (``inserts`` — for a build, the whole state), and
    the run's INTERNAL persisted frames, so callers can ``release()``
    them once their materialization barrier has passed (a loop of
    increments otherwise accretes cached frames per batch)."""

    state: CorpusState
    inserts: dict[str, DataFrame]
    persisted: list[DataFrame]

    def release(self) -> None:
        """Unpersist the run's internal caches. Call only AFTER the state
        or inserts have been materialized (localCheckpoint / table write)
        — their lineage reads through these caches."""
        for frame in self.persisted:
            frame.unpersist()


T = TypeVar("T")


def per_table(
    spark: SparkSession,
    fn: Callable[[str, DataFrame], T],
    frames: dict[str, DataFrame],
) -> dict[str, T]:
    """``{name: fn(name, frame)}`` with one thread per table, so the Spark
    jobs the calls submit run concurrently through the shared scheduler
    (per-table jobs are small; serially each one costs a job barrier).
    Every call inherits the caller's Spark local properties — job group,
    scheduler pool, job description — so cancelling the caller's group
    also cancels these jobs. Each call gets its own copy of them."""
    with ThreadPoolExecutor(len(frames)) as ex:
        futures = {
            n: ex.submit(inheritable_thread_target(spark)(fn), n, f)
            for n, f in frames.items()
        }
        return {n: fut.result() for n, fut in futures.items()}


def _skeleton(kept: DataFrame) -> DataFrame:
    return kept.select(
        "doc_id",
        "source",
        token_count_whitespace("text").alias("tok"),
    )


def _verified_pairs(cand: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-Jaccard verification over candidate rows carrying
    both shingle arrays — the same round-then-compare expression
    ``dedup_near_stage`` filters on, so incremental and full-rebuild
    edges agree bit-exactly."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    j = F.round(inter.cast("double") / union, 6)
    return cand.filter(j >= F.lit(threshold)).select("id_a", "id_b")


def _doc_cells(
    kept_ids: DataFrame, emb: DataFrame, cents: DataFrame
) -> DataFrame:
    """Cell-index rows for the given survivor ids, coalesced to the core
    count and persisted (every consumer — pair self-join, probe, MERGE —
    reads it more than once): join doc_id ↔ the embeddings table's
    vec_id (the fixture's 1:1 document-embedding key), then the standard
    nearest-centroid assignment (broadcast codebook,
    ``similarity.ivf.assign_cells`` — norms materialized once). Documents
    without an embedding row simply contribute no semantic edges."""
    from personal_data_lakehouse_spark.similarity.ivf import assign_cells

    vecs = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("e")
    ).join(kept_ids.select("doc_id"), "doc_id")
    npart = emb.sparkSession.sparkContext.defaultParallelism
    return assign_cells(vecs, cents, "doc_id", "e").coalesce(npart).persist()


def _sem_pairs(a_cells: DataFrame, b_cells: DataFrame) -> DataFrame:
    """Cell-local verified semantic pairs between two cell-index frames
    (id_a from ``a_cells`` < id_b from ``b_cells``): one dot per pair
    against the stored norms, round(·, 6) ≥ SEM_THRESHOLD — the same
    arithmetic contract as ``ivf_blocked_neardup`` and the DuckDB
    oracle's ``_cos`` fragment."""
    from personal_data_lakehouse_spark.similarity.brute_force import dot_expr

    a = a_cells.select(
        "cell",
        F.col("doc_id").alias("id_a"),
        F.col("e").alias("va"),
        F.col("_vn").alias("_na"),
    )
    b = b_cells.select(
        "cell",
        F.col("doc_id").alias("id_b"),
        F.col("e").alias("vb"),
        F.col("_vn").alias("_nb"),
    )
    sim = F.round(
        F.expr(dot_expr("va", "vb")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= F.lit(SEM_THRESHOLD))
        .select("id_a", "id_b")
    )


def build_state(
    docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> CorpusState:
    """Full pipeline run over the BASE corpus, returning the stage tables
    an incremental deployment persists. One-time (or backfill) cost.
    With *emb* (the embeddings table) and *cents* (the IVF codebook) the
    state also carries the semantic ``cells``/``sem_edges`` tables."""
    return build_state_detailed(docs, emb, cents).state


def build_state_detailed(
    docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> IncrementResult:
    """``build_state`` plus the internal caches to release once the
    caller has materialized (checkpointed/written) the state."""
    # Persist the gated corpus and the exact-kept survivors — ``base``
    # feeds the fingerprint ledger branch AND both sides of the
    # exact-dedup join-back, ``kept`` feeds the LSH index build, the
    # skeleton and the cell assignment; unpersisted, each branch re-ran
    # the corpus intake/fingerprint text work. These are the intake/
    # dedup_exact stage tables the managed pipeline writes
    # (corpus_pipeline) — the persist is their lazy-composition form.
    base = intake(docs).persist()
    fp = exact_dedup(base).select("fp", "keep_id")
    kept = dedup_exact_stage(base).persist()
    lsh_docs, banded = lsh_index(kept)
    shingles = lsh_docs.select("doc_id", "shingles")
    # verified base×base edges from the same single index build
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .join(
            shingles.select(
                F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            shingles.select(
                F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
            ),
            "id_b",
        )
    )
    state = CorpusState(
        fp=fp,
        shingles=shingles,
        bands=banded.select("doc_id", "band", "bucket"),
        edges=_verified_pairs(cand, NEAR_THRESHOLD),
        skeleton=_skeleton(kept),
    )
    persisted = [lsh_docs, base, kept]
    if emb is not None:
        state.cells = _doc_cells(kept, emb, cents)
        state.sem_edges = _sem_pairs(state.cells, state.cells)
        persisted.append(state.cells)
    return IncrementResult(
        state=state, inserts=state.frames(), persisted=persisted
    )


def apply_increment(
    state: CorpusState,
    batch_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    threshold: float = NEAR_THRESHOLD,
) -> CorpusState:
    """Process ONE new-docs batch against the existing state and return
    the MERGED state (every table via insert-only MERGE).

    Only the batch's text is gated/fingerprinted/shingled and only the
    batch's vectors are assigned; the corpus side is the stored index.
    *emb*/*cents* (the batch's embeddings and the build's codebook) are
    required exactly when the state carries ``cells``. Idempotent:
    re-applying a batch whose fingerprints are already in the ledger
    inserts nothing anywhere (the replay property
    ``tests/test_corpus_incremental.py`` pins)."""
    return apply_increment_detailed(
        state, batch_docs, emb, cents, threshold
    ).state


def apply_increment_detailed(
    state: CorpusState,
    batch_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    threshold: float = NEAR_THRESHOLD,
) -> IncrementResult:
    """``apply_increment`` plus the per-table inserts and the internal
    caches loops must release — see ``IncrementResult``."""
    from personal_data_lakehouse_spark.functions.text import fingerprint

    if (state.cells is None) != (emb is None):
        raise ValueError(
            "pass the batch's embeddings exactly when the state carries "
            "the semantic tables (cells/sem_edges)"
        )
    b_in = intake(batch_docs)
    # exact dedup vs the ledger: fingerprints already present keep their
    # stored (smaller-id) keeper; genuinely new fingerprints keep the
    # batch-min id — together exactly the union's min-id-per-fp rule.
    b_fpd = b_in.withColumn("fp", fingerprint("text"))
    # Persist the anti-joined batch and its exact-kept survivors: the
    # ledger insert, the survivor join, the LSH index build, the skeleton
    # and the cell assignment consume them, and each unpersisted consumer
    # re-ran the batch intake gates + text fingerprint + ledger anti-join.
    # Batch-sized; released by the IncrementResult barrier contract.
    b_new = b_fpd.join(state.fp.select("fp"), "fp", "left_anti").persist()
    b_keep = b_new.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    b_kept = (
        b_new.join(b_keep.select(F.col("keep_id").alias("doc_id")), "doc_id")
        .drop("fp")
        .persist()
    )

    # LSH: index the batch survivors only; probe stored bands for
    # batch×corpus candidates, self-join for batch×batch.
    b_docs, b_banded = lsh_index(b_kept)
    b_sh = b_docs.select("doc_id", "shingles")
    bc = (
        state.bands.select(
            F.col("doc_id").alias("id_a"), "band", "bucket"
        )
        .join(
            b_banded.select(F.col("doc_id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        # under the append-only contract every stored id < every batch id,
        # so this filter is a no-op — it is defense in depth against a
        # CONTRACT VIOLATION (a replayed/overlapping batch whose ids are
        # already in the band index) manufacturing self-edges
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a, b = b_banded.alias("a"), b_banded.alias("b")
    bb = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # bc (corpus id_a) and bb (both batch) are disjoint by the append-only
    # id invariant, so plain unionByName — no dedup shuffle needed
    all_sh = state.shingles.unionByName(b_sh)
    cand = (
        bc.unionByName(bb)
        .join(
            all_sh.select(
                F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            b_sh.select(
                F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
            ),
            "id_b",
        )
    )
    inserts = {
        "fp": b_keep,
        "shingles": b_sh,
        "bands": b_banded.select("doc_id", "band", "bucket"),
        "edges": _verified_pairs(cand, threshold),
        "skeleton": _skeleton(b_kept),
    }
    persisted = [b_docs, b_new, b_kept]
    if state.cells is not None:
        # batch-only cell assignment; batch×corpus pairs probe the STORED
        # index (its ids are the id_a side — every stored id is smaller
        # under the append-only invariant, and the id_a < id_b filter is
        # the same contract-violation defense as the band probe's), plus
        # batch×batch. Disjoint by the invariant → plain union, no dedup.
        b_cells = _doc_cells(b_kept, emb, cents)
        inserts["cells"] = b_cells
        inserts["sem_edges"] = _sem_pairs(state.cells, b_cells).unionByName(
            _sem_pairs(b_cells, b_cells)
        )
        persisted.append(b_cells)
    # thunks: a consumer pays Catalyst analysis only for the merged tables
    # it reads (the rollup reads skeleton + edges (+ sem_edges))
    merged = _LazyCorpusState(
        **{
            n: lambda n=n: merge_insert_only(
                getattr(state, n), inserts[n], STATE_KEYS[n]
            )
            for n in inserts
        }
    )
    return IncrementResult(state=merged, inserts=inserts, persisted=persisted)


@dataclass
class RollupResult:
    """``state_rollup_detailed``'s return: the rollup frame plus the
    derived-stage chain's internal persists (merged skeleton + canonical
    survivors), releasable once the caller has materialized the rollup.
    Registered-query callers stay covered by the harness clearCache
    contract; LOOPING callers (an increment-then-rollup-per-batch
    driver) must ``release()`` after their barrier or one cached frame
    pair accretes per call."""

    rollup: DataFrame
    persisted: list[DataFrame]

    def release(self) -> None:
        for frame in self.persisted:
            frame.unpersist()


def state_rollup(state: CorpusState, budget: int = 512) -> DataFrame:
    """Recompute the DERIVED pipeline decisions from the merged state and
    roll up the end state per (source, split) — the same hashed surface
    as ``t_corpus_pipeline_e2e`` (``corpus.pipeline_rollup``).

    Derived per run because appends CAN flip them: the near-dup closure
    (a batch doc may bridge two existing clusters, re-pointing cluster
    minima — previously-canonical base docs lose the flag) and the
    temperature-rebalance thresholds (global per-source counts moved).
    Both run on the sparse state: the closure on the edge table(s), the
    rest on the id+int skeleton — no text and no vectors are read here.

    Internal persists (merged skeleton, canonical survivors) have no
    release path through THIS signature — the registered queries rely on
    the harness clearCache contract; a looping caller should use
    ``state_rollup_detailed`` and ``release()`` after materializing."""
    return state_rollup_detailed(state, budget).rollup


def state_rollup_detailed(
    state: CorpusState, budget: int = 512
) -> RollupResult:
    """``state_rollup`` plus the releasable persist handles. With the
    semantic tables present the closure runs over lexical ∪ semantic
    edges (UNION-distinct: a pair can be near in both senses)."""
    edges = state.edges
    if state.sem_edges is not None:
        edges = edges.unionByName(state.sem_edges).dropDuplicates(
            ["id_a", "id_b"]
        )
    # Persist the MERGED skeleton — both the closure's roster (the
    # corpus-side left join in dedup_clusters) and the survivor join
    # consume it, and each consumer's two-branch merge subtree re-scanned
    # the skeleton artifact; cached, the merge executes once. id+int rows
    # — survivor-count-sized at any corpus scale; on a cluster this is
    # the written stage table.
    skel = state.skeleton.persist()
    labels = dedup_clusters(skel.select("doc_id"), edges)
    # Persist the canonical-survivor skeleton — rebalance consumes it
    # twice (count + keep-join branches), and unpersisted the chain
    # re-executed the merged-skeleton subtree once per branch.
    survivors = skel.join(
        labels.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    ).persist()
    staged = split_stage(rebalance_stage(survivors))
    return RollupResult(
        rollup=pipeline_rollup(
            packed_docs(staged, budget=budget, tok_col="tok")
        ),
        persisted=[skel, survivors],
    )


# ---------------------------------------------------------------------------
# Managed-table flavor: the reference's MERGE-into-warehouse shape


def load_state_tables(spark: SparkSession, namespace: str) -> CorpusState:
    """The stage tables stored under ``namespace`` (semantic ones only
    when the namespace has them)."""
    return CorpusState(
        **{
            n: spark.read.table(f"{namespace}.{n}")
            for n in STATE_KEYS
            if spark.catalog.tableExists(f"{namespace}.{n}")
        }
    )


def init_state_tables(
    spark: SparkSession,
    base_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    namespace: str = "corpus_inc",
) -> None:
    """Materialize the base state as managed stage tables under
    ``namespace`` (the production backfill) — seven tables when *emb*
    and *cents* are given, five otherwise. The tables are written
    concurrently (``per_table``)."""
    ensure_namespace(spark, namespace)
    built = build_state_detailed(base_docs, emb, cents)
    per_table(
        spark,
        lambda n, f: f.write.mode("overwrite").saveAsTable(f"{namespace}.{n}"),
        built.state.frames(),
    )
    built.release()  # tables written: drop the backfill's internal caches


def run_increment(
    spark: SparkSession,
    batch_docs: DataFrame,
    emb: DataFrame | None = None,
    cents: DataFrame | None = None,
    namespace: str = "corpus_inc",
) -> dict[str, int]:
    """MERGE one batch into the persisted stage tables and return the
    per-table row counts after the merge (the increment's funnel). A
    namespace holding the semantic tables needs the batch's *emb* and
    the codebook *cents*.

    Uses ``merge_into_table`` per stage table — the reference's
    ingest_stocks.py:84-100 MERGE shape (Delta-native when delta-spark is
    on the classpath, an append of the new rows on parquet otherwise) —
    offering it only the increment's INSERTS, so the keyed insert-only
    anti-join runs once per table. Idempotent: a replayed batch offers no
    rows and appends no file.

    The tables run in two phases, each concurrent across tables
    (``per_table``, so the caller's job group and scheduler pool carry
    over to every job):

    1. checkpoint every table's inserts. This is a BARRIER: the inserts
       read the stage tables lazily BY NAME, so merging table 1 before
       inserts 2..n are materialized would silently change what they
       compute (e.g. the edge probe re-reading an already-updated band
       index). No table changes until every insert is checkpointed.
    2. per table, merge its inserts, then count the merged table.

    Cache invalidation is SCOPED to this run's own persists: the only
    CacheManager entries an increment creates are its internal persists
    (the batch LSH doc aggregate, the ledger-anti-joined batch, its
    exact-kept survivors and — semantic — the batch cell index), and
    entries of that class were a stale-plan bug — a later run's
    structurally-identical plan matched the previous run's cached entry,
    which held pre-merge file listings of the stage tables. Releasing
    them after the checkpoint barrier (lineage severed) leaves nothing
    for the next increment to collide with, and unrelated caches the
    caller holds survive. Table-direct caches are handled by
    ``merge_into_table``'s post-merge ``refreshTable``.

    What the Delta path would strengthen (delta-spark is not installable
    here — session.delta_available): (1) a crash mid-append can leave
    part of an increment committed until it is replayed (the replay
    inserts only the missing rows); one Delta commit per table makes
    each table's merge all-or-nothing; (2) the eager source-read inside
    MERGE makes the pre-merge checkpoint barrier a no-op safeguard
    instead of a correctness requirement; (3) time travel would let the
    replay test assert version N == version N+1 instead of row-set
    equality. The SEMANTICS proven here (insert-only keyed MERGE,
    idempotent replay, increment == rebuild) are identical on both
    paths."""
    ensure_namespace(spark, namespace)
    inc = apply_increment_detailed(
        load_state_tables(spark, namespace), batch_docs, emb, cents
    )
    inserts = per_table(spark, lambda n, f: f.localCheckpoint(), inc.inserts)
    inc.release()  # checkpoint barrier passed: drop this run's caches

    def merge(name: str, frame: DataFrame) -> int:
        table = f"{namespace}.{name}"
        merge_into_table(spark, table, frame, STATE_KEYS[name], insert_only=True)
        return spark.read.table(table).count()

    return per_table(spark, merge, inserts)
