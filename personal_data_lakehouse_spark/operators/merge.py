"""MERGE semantics (SURVEY.md §2.3 J1/J2) as pure DataFrame algebra.

The reference uses Delta MERGE two ways:

* **insert-only dedup merge** — ``whenNotMatchedInsertAll`` keyed on
  ``(ticker, date)`` (pipelines/stock_api/ingest_stocks.py:84-100): append
  only rows whose key is absent from the target.
* **upsert merge** — dbt incremental ``unique_key`` materialization
  (models/silver/daily_stocks.sql:2-5, models/gold/monthly_stock_summary.sql:1-5):
  update-or-insert, source wins on key match.

Delta isn't in this container, so both are expressed as join algebra over
any DataFrame (Delta-backed or Parquet-backed). When delta-spark IS on the
classpath, ``merge_into_table`` uses the native, transactional
``MERGE INTO`` instead.

On plain Parquet catalog tables the two shapes are materialized
differently. An insert-only merge APPENDS the anti-joined new rows as new
data files and never touches the files already stored, so its write cost
is O(new rows), not O(table), and a crash mid-append loses no stored row
(a replay's anti-join skips whatever the crashed append did commit). An
upsert must replace matched rows, so it stages the merged table and swaps
it in by rename.

Scale notes
-----------
- Both shapes are a single equi-join on the merge key: Catalyst broadcasts
  the source when it's small (the common incremental case — a day's
  increment vs. a year's table), otherwise AQE picks sort-merge with skew
  splitting.
- ``left_anti`` is the cheapest join flavor (no payload columns from the
  probe side cross the shuffle).
- For repeated merges into the same huge table, bucket the table by the
  merge key (``writer.bucketBy``) so every merge join is shuffle-free on
  the target side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def dedup_source(
    source: DataFrame, keys: Sequence[str], order_by: Sequence[str] | None = None
) -> DataFrame:
    """Collapse duplicate merge keys inside the source batch.

    Delta MERGE raises on duplicate source keys; our policy keeps the first
    row per key under ``order_by`` (deterministic), or an arbitrary-but-
    stable max-by-all-columns when no ordering is given.
    """
    if order_by:
        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
        return (
            source.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return source.dropDuplicates(list(keys))


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """CDC changelog application (DLT ``apply_changes`` / Debezium-consumer
    semantics): *changes* carries the target's columns plus an operation
    column ('I'/'U'/'D') and a monotonic sequence column; the latest change
    per key wins, deletes remove the key, upserts replace it.

    Shape: one window (latest-per-key on the — typically small — changelog)
    + one left_anti join + one union. The anti join broadcasts the deduped
    changelog key set against the large snapshot, so applying a day of CDC
    to a 100 TB table costs a broadcast probe plus an append, never a
    shuffle of the snapshot.

    Determinism contract: *seq_col* SHOULD be unique per key (a commit LSN /
    Kafka offset is). When two changes do share (key, seq), the winner is
    chosen by a full-row xxhash64 tie-break — arbitrary but stable across
    reruns, engines, and partition layouts, never partition-order-dependent.
    A NULL *op_col* is rejected at execution time (``assert_true``) rather
    than silently acting as a delete: NULL would fail ``op != 'D'`` and drop
    the row while its key still anti-joins the target row away.
    """
    changes = changes.withColumn(
        "__op_ck",
        F.assert_true(
            F.col(op_col).isNotNull(),
            F.lit(f"apply_changes: NULL {op_col} (must be 'I'/'U'/'D')"),
        ),
    ).drop("__op_ck")
    w = Window.partitionBy(*keys).orderBy(
        F.desc(seq_col), F.desc(F.xxhash64(*[F.col(c) for c in changes.columns]))
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = target.join(
        F.broadcast(latest.select(*keys)), list(keys), "left_anti"
    )
    applied = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    return untouched.unionByName(applied)


def merge_insert_only(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J1: target ∪ (source rows whose key is not already in target).

    Equivalent SQL: ``MERGE INTO t USING s ON <keys> WHEN NOT MATCHED THEN
    INSERT *``. Idempotent: re-merging the same batch is a no-op.
    """
    new_rows = source.join(target.select(*keys), on=list(keys), how="left_anti")
    return target.unionByName(new_rows)


def merge_upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """J2: update-or-insert, source wins on key match.

    Equivalent SQL: ``MERGE INTO t USING s ON <keys> WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *``.
    """
    kept = target.join(source.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(source.select(*target.columns))


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    eff_col: str = "eff_date",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 merge: version history, not
    overwrite.

    *dim* is the current SCD2 table — one row per (key, version) carrying
    the *tracked* attribute columns plus the ``valid_from`` /
    ``valid_to`` / ``is_current`` bookkeeping triple (``is_current`` is
    an integer 0/1 so the result round-trips engines without a boolean
    column). *updates* carries one row per key with the tracked columns
    at their new values plus *eff_col*, the change's effective date.

    Semantics (the ``MERGE … WHEN MATCHED AND <attrs differ>`` SCD2
    idiom):

    * a key whose tracked attributes DIFFER from its current version
      (null-safe comparison) gets its current row CLOSED
      (``valid_to = eff, is_current = 0``) and a new open version
      appended;
    * a key in *updates* with NO current row in *dim* — absent entirely,
      or carrying only closed history (a key deleted and re-appearing) —
      is an insert: a new open version starts at its effective date
      (r12, r11 ADVICE: the old anti-join against ALL dim keys silently
      dropped an update whose key had only closed rows);
    * a no-op update (all tracked attributes equal) leaves the dimension
      untouched — re-applying the same batch is idempotent;
    * history rows (``is_current = 0``) are never touched.

    *updates* must carry at most one row per key (the Delta MERGE
    contract) — collapse duplicates with :func:`dedup_source` first.
    *tracked* must be non-empty (an SCD2 dimension with nothing tracked
    has no change to detect — ``ValueError``, not a silent full-close).

    Shape & scale: the change detection is one equi-join of the (small)
    update batch against the CURRENT slice — Catalyst broadcasts the
    batch in the common incremental case; closing/keeping rows is a
    broadcast left join of the changed-key set against *dim* (never a
    shuffle of the dimension's history); new versions come from the
    batch itself. For repeated merges into a huge dimension, bucket by
    the key like the other MERGE shapes.
    """
    keys = list(keys)
    tracked = list(tracked)
    if not tracked:
        raise ValueError(
            "scd2_merge: tracked must name at least one attribute column"
        )
    cur = dim.filter(F.col(is_current) == 1)
    cur_vals = cur.select(
        *keys, *[F.col(c).alias(f"__cur_{c}") for c in tracked]
    )
    joined = updates.join(cur_vals, keys, "inner")
    differs = None
    for c in tracked:
        d = ~F.col(c).eqNullSafe(F.col(f"__cur_{c}"))
        differs = d if differs is None else (differs | d)
    changed = joined.filter(differs).select(*updates.columns)
    # anti-join against the CURRENT slice, not all of dim: a key with
    # only closed history gets a fresh open version instead of vanishing
    inserts = updates.join(cur.select(*keys), keys, "left_anti")
    to_version = changed.unionByName(inserts)

    eff = F.col(f"__chg_{eff_col}")
    marked = dim.join(
        F.broadcast(
            changed.select(
                *keys, F.col(eff_col).alias(f"__chg_{eff_col}")
            ).withColumn("__chg", F.lit(1))
        ),
        keys,
        "left",
    )
    kept = marked.select(
        *keys,
        *tracked,
        F.col(valid_from),
        F.when(
            (F.col(is_current) == 1) & F.col("__chg").isNotNull(), eff
        )
        .otherwise(F.col(valid_to))
        .alias(valid_to),
        F.when(
            (F.col(is_current) == 1) & F.col("__chg").isNotNull(), F.lit(0)
        )
        .otherwise(F.col(is_current))
        .cast("long")
        .alias(is_current),
    )
    opened = to_version.select(
        *keys,
        *tracked,
        F.col(eff_col).alias(valid_from),
        F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
        F.lit(1).cast("long").alias(is_current),
    )
    return kept.unionByName(opened)


def merge_into_table(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: Sequence[str],
    insert_only: bool = False,
) -> None:
    """Materialized merge into a catalog table.

    With Delta on the classpath this is the native transactional MERGE. On
    plain Parquet catalog tables:

    * ``insert_only`` appends the source rows whose key the table lacks
      (``whenNotMatchedInsertAll``). Stored data files are never rewritten,
      so a crash mid-append loses no stored row, and re-running the merge
      inserts only what the crashed append did not commit. A merge with
      nothing new (a replayed batch) writes no file at all.
    * an upsert stages the merged result and swaps it in. The swap renames
      the live table aside before promoting the staging table (live →
      __old, staging → live, drop __old), so a crash mid-swap leaves a
      recoverable table under one of the two names — still not atomic
      (Delta is the production path), but never a window where the data
      is gone.
    """
    if not spark.catalog.tableExists(table):
        source.write.saveAsTable(table)
        return
    try:
        from delta.tables import DeltaTable  # type: ignore

        dt = DeltaTable.forName(spark, table)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        m = dt.alias("t").merge(source.alias("s"), cond)
        if insert_only:
            m.whenNotMatchedInsertAll().execute()
        else:
            m.whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        return
    except ImportError:
        pass
    target = spark.read.table(table)
    if insert_only:
        # An empty append would still write one (empty) file, so the new
        # rows are materialized once and counted on the way (an observed
        # metric: no extra job); the append reads the materialized rows.
        seen = Observation()
        new_rows = (
            source.join(target.select(*keys), on=list(keys), how="left_anti")
            .observe(seen, F.count(F.lit(1)).alias("rows"))
            .localCheckpoint()
        )
        if not seen.get["rows"]:
            return
        new_rows.write.mode("append").saveAsTable(table)
    else:
        staging, old = f"{table}__staging", f"{table}__old"
        merge_upsert(target, source, keys).write.mode("overwrite").saveAsTable(
            staging
        )
        spark.sql(f"DROP TABLE IF EXISTS {old}")
        spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        spark.sql(f"DROP TABLE {old}")
    # Invalidate every cached plan that references the merged table:
    # neither the append nor the rename sequence touches the CacheManager,
    # so a persisted DERIVED frame built before the merge (e.g. an LSH
    # index aggregate over this table) still matches a structurally-
    # identical post-merge plan by logical-plan equality and silently
    # serves PRE-merge rows — the corpus_incremental replay test caught
    # exactly this (a replayed batch resurrected the previous run's cached
    # band index). Delta's native MERGE invalidates through its own
    # transaction log.
    spark.catalog.refreshTable(table)
