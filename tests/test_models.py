"""Golden-semantics tests for the reference pipeline (FIXTURES.md B1-B4):
REST ingest → insert-only MERGE idempotency → silver/gold incremental
models, including the watermark edge and incremental ≡ full-refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from personal_data_lakehouse_spark.catalog import ensure_layers
from personal_data_lakehouse_spark.io.rest import fetch_stock_frame
from personal_data_lakehouse_spark.operators.merge import merge_into_table
from personal_data_lakehouse_spark.plans.models import ModelRunner
from personal_data_lakehouse_spark.plans.reference_models import REFERENCE_MODELS
from tests.conftest import data_files


def _series(days: dict[str, tuple[float, float, float, float, int]]):
    return {
        d: {
            "1. open": str(o),
            "2. high": str(h),
            "3. low": str(lo),
            "4. close": str(c),
            "5. volume": str(v),
        }
        for d, (o, h, lo, c, v) in days.items()
    }


BATCH1 = {
    "IBM": _series(
        {
            "2024-01-10": (100.0, 110.0, 95.0, 105.0, 1000),
            "2024-01-11": (105.0, 112.0, 101.0, 108.0, 1500),
            "2024-02-01": (108.0, 109.0, 99.0, 101.0, 900),
        }
    ),
    "msft ": _series({"2024-01-10": (200.0, 220.0, 190.0, 210.0, 5000)}),
    # quality-filter bait: volume=0 and close=0 rows (daily_stocks.sql:26-27)
    "NVDA": _series(
        {
            "2024-01-10": (50.0, 55.0, 45.0, 0.0, 800),
            "2024-01-11": (50.0, 55.0, 45.0, 52.0, 0),
            "2024-01-12": (0.0, 55.0, 45.0, 52.0, 700),  # SAFE_DIVIDE null
        }
    ),
}

# Overlaps 2024-02 (open-month re-aggregation) + duplicates one (ticker,date)
BATCH2 = {
    "IBM": _series(
        {
            "2024-02-01": (108.0, 109.0, 99.0, 101.0, 900),  # dup key
            "2024-02-02": (101.0, 103.0, 97.0, 99.0, 1100),
        }
    )
}


@pytest.fixture()
def pipeline(spark):
    ensure_layers(spark)
    for tbl in ("bronze.raw_stock_daily", "silver.daily_stocks", "gold.monthly_summary"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    yield spark


def ingest(spark, batch):
    df = fetch_stock_frame(spark, sorted(batch), fetcher=lambda s: batch[s])
    merge_into_table(
        spark, "bronze.raw_stock_daily", df, keys=["ticker", "date"], insert_only=True
    )


def test_merge_insert_only_idempotent(pipeline):
    spark = pipeline
    ingest(spark, BATCH1)
    n1 = spark.table("bronze.raw_stock_daily").count()
    files1 = data_files(spark, "bronze.raw_stock_daily")
    ingest(spark, BATCH1)  # replay the same batch
    assert spark.table("bronze.raw_stock_daily").count() == n1 == 7
    # nothing new → no file appended, not even an empty one
    assert data_files(spark, "bronze.raw_stock_daily") == files1


def test_merge_insert_only_appends(pipeline):
    """An insert-only merge that adds rows appends files: every data file
    the table held before is still there with the same name and size."""
    spark = pipeline
    ingest(spark, BATCH1)
    files1 = data_files(spark, "bronze.raw_stock_daily")
    ingest(spark, BATCH2)  # one duplicate key, one new (ticker, date)
    assert spark.table("bronze.raw_stock_daily").count() == 8
    files2 = data_files(spark, "bronze.raw_stock_daily")
    assert {p: files2.get(p) for p in files1} == files1
    assert len(files2) > len(files1)


def test_silver_gold_semantics(pipeline):
    spark = pipeline
    ingest(spark, BATCH1)
    ModelRunner(spark, REFERENCE_MODELS).run()

    silver = spark.table("silver.daily_stocks")
    # quality filter dropped close=0 and volume=0 rows: 7 - 2 = 5
    assert silver.count() == 5
    # ticker normalization "msft " -> "MSFT" (transforme_stock_silver.py:112)
    assert {r.sigla_empresa for r in silver.select("sigla_empresa").collect()} == {
        "IBM",
        "MSFT",
        "NVDA",
    }
    # SAFE_DIVIDE: open=0 row yields NULL variacao_dia_perc
    nvda = silver.filter(F.col("sigla_empresa") == "NVDA").collect()
    assert len(nvda) == 1 and nvda[0].variacao_dia_perc is None

    gold = spark.table("gold.monthly_summary")
    jan_ibm = gold.filter(
        (F.col("sigla_empresa") == "IBM") & (F.col("mes") == 1)
    ).collect()[0]
    assert jan_ibm.ano == 2024
    assert float(jan_ibm.volume_total_mensal) == 2500.0
    assert float(jan_ibm.preco_medio_fechamento_mensal) == pytest.approx(106.5)
    assert float(jan_ibm.maximo_mensal) == 112.0
    assert float(jan_ibm.minimo_mensal) == 95.0


def test_incremental_equals_full_refresh(pipeline):
    spark = pipeline
    runner = ModelRunner(spark, REFERENCE_MODELS)
    ingest(spark, BATCH1)
    runner.run()
    ingest(spark, BATCH2)
    runner.run()  # incremental: watermark >= edge + unique_key merge
    incremental = {
        (r.sigla_empresa, r.data_inicio_mes): (
            float(r.volume_total_mensal),
            float(r.preco_medio_fechamento_mensal),
        )
        for r in spark.table("gold.monthly_summary").collect()
    }
    runner.run(full_refresh=True)
    full = {
        (r.sigla_empresa, r.data_inicio_mes): (
            float(r.volume_total_mensal),
            float(r.preco_medio_fechamento_mensal),
        )
        for r in spark.table("gold.monthly_summary").collect()
    }
    assert incremental == full
    # the open February month was re-aggregated, not duplicated
    feb = [k for k in incremental if k[0] == "IBM" and k[1].month == 2]
    assert len(feb) == 1
    assert incremental[feb[0]][0] == 2000.0  # 900 + 1100 (dup row merged away)


def test_run_order_follows_ref_graph(spark):
    order = ModelRunner(spark, REFERENCE_MODELS).run_order()
    assert order.index("daily_stocks") < order.index("monthly_summary")


def test_apply_changes_cdc_semantics(spark):
    """CDC apply: latest seq wins, deletes drop keys, inserts add them,
    untouched rows pass through bit-identical."""
    from pyspark.sql import functions as F

    from personal_data_lakehouse_spark.operators.merge import apply_changes

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b1", "U", 1),
            (2, "b2", "U", 2),  # later seq must win
            (3, None, "D", 1),
            (4, "d", "I", 1),
            (4, None, "D", 2),  # insert then delete -> absent
        ],
        "k int, v string, op string, seq int",
    )
    got = {
        r.k: r.v
        for r in apply_changes(target, changes, keys=["k"]).collect()
    }
    assert got == {1: "a", 2: "b2"}
    # empty changelog is a no-op
    empty = changes.filter(F.lit(False))
    assert sorted(
        (r.k, r.v) for r in apply_changes(target, empty, keys=["k"]).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]


def test_insert_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    """dbt insert_overwrite semantics: re-running an increment rewrites the
    partitions it produces and leaves every other partition untouched —
    idempotent daily backfills without a merge key."""
    from personal_data_lakehouse_spark.plans.models import Model, ModelRunner

    spark.sql("CREATE DATABASE IF NOT EXISTS iow")
    spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-01", 20.0), (3, "2024-02", 30.0)],
        "id int, month string, v double",
    ).createOrReplaceTempView("iow_src")

    model = Model(
        name="iow_model",
        sql="""
        SELECT id, month, v FROM iow_src
        {% if is_incremental() %} WHERE month = '2024-02' {% endif %}
        """,
        target="iow.agg",
        materialization="insert_overwrite",
        partition_by=["month"],
    )
    runner = ModelRunner(spark, [model])
    runner.run()  # full build: both months
    assert spark.table("iow.agg").count() == 3

    # replace the 2024-02 source data; incremental run touches only 2024-02
    spark.createDataFrame(
        [(1, "2024-01", 99.0), (4, "2024-02", 40.0), (5, "2024-02", 50.0)],
        "id int, month string, v double",
    ).createOrReplaceTempView("iow_src")
    runner.run()
    got = sorted(
        (r.id, r.month, r.v) for r in spark.table("iow.agg").collect()
    )
    # 2024-01 keeps its ORIGINAL rows (id 1 v=10, id 2) — not the changed
    # source — proving the increment didn't rewrite that partition;
    # 2024-02 is fully replaced (id 3 gone, ids 4,5 in).
    assert got == [
        (1, "2024-01", 10.0),
        (2, "2024-01", 20.0),
        (4, "2024-02", 40.0),
        (5, "2024-02", 50.0),
    ]
