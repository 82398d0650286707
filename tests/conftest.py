"""Shared fixtures: one SparkSession per test session, duckdb oracle con,
and the compare helper that mirrors the driver's correctness gate
(row-count + schema-width + order-insensitive value compare)."""

from __future__ import annotations

import math
import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from awscommunityday_2025_iceberg_snowfalke_spark.session import get_spark
from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("TZ", "UTC")
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobpin-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _norm(v):
    """Normalize a cell for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1:  # numpy array
        return tuple(_norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _dtype_class(dtype) -> str:
    s = str(dtype)
    if s.startswith(("int", "uint")) or s == "bool":
        return "int"
    if s.startswith("float"):
        return "float"
    return "other"


def assert_matches_oracle(spark_df, oracle_con, sql: str, name: str = "?"):
    """Mirror of the driver's compare: sort columns by name, normalize
    values, compare as multisets."""
    sdf = spark_df.toPandas()
    odf = oracle_con.execute(sql).fetchdf()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != oracle {o_cols}"
    # Pandas dtype CLASS must agree column-by-column: duckdb renders an
    # uncast SUM as HUGEINT, which fetchdf() converts to float64 while the
    # Spark side stays int64 — Python's int==float made the old value
    # compare blind to it, but a driver-side value HASH sees 49 != 49.0
    # (the r7 local-green/driver-red class; oracles must CAST sums).
    # Null-bearing int columns legitimately become float64 on BOTH sides
    # (pandas has no nullable int here), so only flag class skew when
    # neither side has nulls in that column.
    for c in s_cols:
        sc, oc = _dtype_class(sdf[c].dtype), _dtype_class(odf[c].dtype)
        if sc != oc and not sdf[c].isna().any() and not odf[c].isna().any():
            assert False, (
                f"{name}: column {c!r} dtype class {sdf[c].dtype} (spark) != "
                f"{odf[c].dtype} (oracle) — uncast SUM/HUGEINT? A driver "
                "value-hash distinguishes 49 from 49.0 even though == does not"
            )
    s_rows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=repr,
    )
    o_rows = sorted(
        (tuple(_norm(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
        key=repr,
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
