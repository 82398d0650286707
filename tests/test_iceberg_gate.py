"""Flag-gated real-Iceberg backend (sources/iceberg.py).

The container has no ``iceberg-spark-runtime`` jar and no network, so the
real-catalog path cannot execute here; these tests pin the gating contract
(absent jar → clean fallback, never a crash) and run the full adapter
round-trip whenever a jar IS provided via ``SPARK_GRAFT_ICEBERG_JAR``.
"""

import os

import pytest
from pyspark.sql import functions as F

from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
    SnapshotTable,
    make_table,
)
from awscommunityday_2025_iceberg_snowfalke_spark.sources import iceberg

from conftest import SF_DIR

_HAS_JAR = iceberg.jar_path() is not None


def test_disabled_without_jar(spark):
    if _HAS_JAR:
        pytest.skip("jar provided; gating covered by the roundtrip test")
    assert not iceberg.enabled()
    assert not iceberg.enabled(spark)
    assert not iceberg.runtime_loaded(spark)


def test_configure_builder_is_noop_without_jar():
    if _HAS_JAR:
        pytest.skip("jar provided")
    sentinel = object()
    assert iceberg.configure_builder(sentinel) is sentinel


def test_make_table_falls_back_to_snapshot(spark):
    if _HAS_JAR:
        pytest.skip("jar provided; make_table returns IcebergTable")
    assert isinstance(make_table(spark, "gate_"), SnapshotTable)


def test_iceberg_table_requires_runtime(spark):
    if _HAS_JAR:
        pytest.skip("jar provided")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        iceberg.IcebergTable(spark, "t")


@pytest.mark.skipif(not _HAS_JAR, reason="no iceberg-spark-runtime jar")
def test_iceberg_roundtrip(spark):
    """With a real runtime: append → history → time travel → file_stats →
    plan_scan, the same surface the lifecycle queries exercise."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    assert iceberg.runtime_loaded(spark), (
        "jar set but runtime not loaded — session must be built via "
        "session.get_spark (configure_builder)"
    )
    ev = load(spark, SF_DIR, "events")
    tbl = make_table(spark, "rt_")
    assert isinstance(tbl, iceberg.IcebergTable)
    v1 = tbl.append(ev.filter(F.col("event_id") % 2 == 0), n_files=2)
    v2 = tbl.append(ev.filter(F.col("event_id") % 2 == 1), n_files=2)
    assert (v1, v2) == (1, 2)
    assert tbl.read(version=1).count() < tbl.read().count()
    assert tbl.read().count() == ev.count()
    assert len(tbl.history()) == 2
    stats = tbl.file_stats("user_id")
    assert stats and all(s["min"] is not None for s in stats)
    plan = tbl.plan_scan({"user_id": (0, 1 << 60)})
    assert plan["files_skipped"] == 0
