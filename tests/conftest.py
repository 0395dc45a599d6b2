"""Shared fixtures: one SparkSession per test run, a DuckDB oracle, and the
strict differential comparator that mirrors the driver's correctness gate
(row count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import decimal
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from personal_data_lakehouse_spark.plans.registry import TABLES
from personal_data_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(app_name="pdl-tests", warehouse_dir=wh)
    yield s


def data_files(spark, table):
    """{path: size} of every data file under a catalog table's location
    (Spark's own rule: names starting with '_' or '.' are not data)."""
    from urllib.parse import urlparse

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Location'")
        .first()
        .data_type
    )
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(urlparse(loc).path)
        for f in names
        if not f.startswith(("_", "."))
    }


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def canonical_value(v):
    """Normalize a cell so Spark and DuckDB results compare exactly."""
    if v is None:
        return "∅"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "isoformat"):  # date / datetime
        return f"t:{v.isoformat()[:26]}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canonical_value(x) for x in v) + "]"
    return f"s:{v}"


def canonicalize(columns, rows):
    """Sort columns by name (like the driver) then rows; stringify cells."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canonical_value(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def assert_matches_oracle(spark, oracle, spark_df, sql, name=""):
    # Arrow path preserves NULLs (toPandas would turn float NULL into NaN).
    satbl = spark_df.toArrow()
    s_cols = satbl.column_names
    s_rows = [tuple(d[c] for c in s_cols) for d in satbl.to_pylist()]
    ddf = oracle.sql(sql)
    d_cols = list(ddf.columns)
    d_rows = ddf.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    _, s_canon = canonicalize(s_cols, s_rows)
    _, d_canon = canonicalize(d_cols, d_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
