"""Sources/sinks (S1-S3, S7) and streaming ingest (S11) library behavior."""

import os

from pyspark.sql import functions as F

from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
    CUTOFF_7D,
    events_with_props,
    load,
    register_views,
)
from awscommunityday_2025_iceberg_snowfalke_spark.sources.writers import (
    ctas_hot_tier,
    read_csv,
    write_csv,
    write_partitioned,
)
from awscommunityday_2025_iceberg_snowfalke_spark.streaming import (
    ingest_file_stream,
    simulate_small_file_landing,
)
from awscommunityday_2025_iceberg_snowfalke_spark import governance

from conftest import SF_DIR


def test_partitioned_layout(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    path = str(tmp_path / "part")
    write_partitioned(ev, path, granularity="day")
    dirs = os.listdir(path)
    assert any(d.startswith("year=") for d in dirs)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # partition pruning: day filter must prune input files
    pruned = back.filter((F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 5))
    assert pruned.count() == ev.filter(F.to_date("ts") == "2024-01-05").count()


def test_csv_roundtrip(spark, tmp_path):
    prof = load(spark, SF_DIR, "customer").select("c_custkey", "c_name", "c_acctbal")
    path = str(tmp_path / "csv")
    write_csv(prof, path)
    back = read_csv(spark, path)
    assert back.count() == prof.count()
    assert dict(back.dtypes)["c_custkey"] in ("int", "bigint")  # inferred


def test_ctas_hot_tier(spark, tmp_path):
    ev = load(spark, SF_DIR, "events")
    hot = ctas_hot_tier(ev, str(tmp_path / "hot"), CUTOFF_7D)
    assert hot.count() == ev.filter(F.col("ts") >= CUTOFF_7D).count()


def test_register_views_sql_entry(spark):
    register_views(spark, SF_DIR, "events", "customer")
    n = spark.sql("SELECT COUNT(*) AS c FROM events").collect()[0].c
    assert n == load(spark, SF_DIR, "events").count()


def test_events_with_props_map(spark):
    df = events_with_props(spark, SF_DIR)
    row = df.filter(F.col("props_map").getItem("k").isNotNull()).first()
    assert row is not None
    assert row.props_map["k"] == str(
        __import__("json").loads(row.props)["k"]
    )


def test_streaming_ingest_small_files(spark, tmp_path):
    ev = load(spark, SF_DIR, "events").limit(500)
    landing = str(tmp_path / "landing")
    # reproduce the small-file pathology, then ingest with checkpointing
    simulate_small_file_landing(ev, landing, n_files=12)
    target, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    schema = spark.read.parquet(landing).schema
    ingest_file_stream(spark, landing, target, ckpt, schema)
    out = spark.read.parquet(target)
    assert out.count() == 500
    assert "event_date" in out.columns
    # idempotent re-run: checkpoint remembers processed files
    ingest_file_stream(spark, landing, target, ckpt, schema)
    assert spark.read.parquet(target).count() == 500


def test_governance_masking_and_rls(spark):
    masked = governance.secured_profiles(spark, SF_DIR, role="analyst")
    rows = masked.limit(5).collect()
    assert all(r.name == governance.MASK for r in rows)
    assert {r.region for r in masked.collect()} == {"ASIA"}
    admin = governance.secured_profiles(spark, SF_DIR, role="ADMIN")
    assert all(r.name != governance.MASK for r in admin.limit(5).collect())


def test_multimodal_stub_raises(spark):
    from awscommunityday_2025_iceberg_snowfalke_spark.operators import multimodal

    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"RIFF")
    meta = multimodal.fake_decode_meta(b"x" * 600)
    assert meta == {"payload_len": 600, "n_frames": 3, "fmt": "txtimg"}


def test_generator_events_schema_and_domains(spark):
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.generator import (
        EVENT_TYPES,
        REGIONS,
        generate_user_events,
        generate_user_profiles,
    )

    ev = generate_user_events(spark, 2000, partitions=8)
    assert ev.columns == ["user_id", "event_type", "timestamp", "properties", "region"]
    assert ev.count() == 2000
    types = {r[0] for r in ev.select("event_type").distinct().collect()}
    assert types <= set(EVENT_TYPES) and len(types) >= 8
    regions = {r[0] for r in ev.select("region").distinct().collect()}
    assert regions <= set(REGIONS)
    # properties duality: JSON string on disk, map-decodable (X10)
    from pyspark.sql import functions as F

    decoded = ev.select(F.from_json("properties", "map<string,string>").alias("m"))
    assert decoded.filter(F.col("m").getItem("session_id").isNull()).count() == 0
    purchases = ev.filter("event_type = 'purchase'").select(
        F.get_json_object("properties", "$.amount").alias("amount")
    )
    assert purchases.filter(F.col("amount").isNull()).count() == 0

    # deterministic: same args → identical dataset at any parallelism
    again = generate_user_events(spark, 2000, partitions=3)
    assert ev.exceptAll(again).count() == 0

    prof = generate_user_profiles(spark, 500)
    assert prof.count() == 500
    assert prof.columns == ["user_id", "name", "email", "region", "created_at"]


def test_pyds_snapshot_source_roundtrip_and_time_travel(spark, tmp_path):
    """format("snapshot") must read exactly what SnapshotTable holds, and
    option("version") must time-travel."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(ev.filter(F.col("event_id") % 2 == 0), n_files=2)
    t.append(ev.filter(F.col("event_id") % 2 == 1), n_files=2)

    pyds.register(spark)
    cur = spark.read.format("snapshot").option("path", t.path).load()
    assert cur.count() == ev.count()
    assert set(cur.columns) == {"event_id", "user_id", "value"}
    v1 = (
        spark.read.format("snapshot")
        .option("path", t.path)
        .option("version", 1)
        .load()
    )
    assert v1.count() == ev.filter(F.col("event_id") % 2 == 0).count()


def test_pyds_pushdown_prunes_files(spark, tmp_path):
    """pushFilters must drop files whose footer [min,max] cannot match,
    and never drop files for unsupported filter shapes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        LessThanOrEqual,
        StringContains,
    )

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.pyds import (
        SnapshotReader,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    t = SnapshotTable(spark, str(tmp_path / "t"))
    chunked = ev.withColumn(
        "_c", F.ntile(4).over(Window.orderBy("user_id", "event_id"))
    )
    for c in (1, 2, 3, 4):
        t.append(chunked.filter(F.col("_c") == c).drop("_c"), n_files=1)

    lo_hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, umax = int(lo_hi[0]), int(lo_hi[1])
    mid = (umin + umax) // 2

    r = SnapshotReader({"path": t.path})
    assert len(r.partitions()) == 4
    unhandled = r.pushFilters(
        [GreaterThanOrEqual(("user_id",), mid), LessThanOrEqual(("user_id",), mid)]
    )
    assert len(list(unhandled)) == 2  # source never claims filter ownership
    assert 1 <= len(r.partitions()) <= 2  # point-ish lookup hits 1-2 of 4 files

    # unsupported shapes must not prune
    r2 = SnapshotReader({"path": t.path})
    r2.pushFilters([StringContains(("event_type",), "click")])
    assert len(r2.partitions()) == 4


def test_pyds_stream_reads_commits_incrementally(spark, tmp_path):
    """readStream over format("snapshot"): first availableNow run drains
    all append commits; after one more append, a restarted run with the
    same checkpoint processes ONLY the new commit (exactly-once). File
    sink + shared checkpoint (the memory sink cannot recover)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(ev.filter(F.col("event_id") % 3 == 0), n_files=2)
    t.append(ev.filter(F.col("event_id") % 3 == 1), n_files=2)

    pyds.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("snapshot")
            .option("path", t.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    n1 = ev.filter(F.col("event_id") % 3 != 2).count()
    assert drain().count() == n1

    t.compact(target_files=1)  # non-append commit: must NOT replay rows
    t.append(ev.filter(F.col("event_id") % 3 == 2), n_files=1)
    # second run appends ONLY the new commit's rows to the sink
    assert drain().count() == ev.count()


def test_pyds_stream_reads_every_commit_under_its_start_schema(spark, tmp_path):
    """A stream reads under the table schema it started with: the
    generation written before a column was added reads NULL in it, and a
    commit that adds another column mid-stream still streams its rows,
    without that column."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    t = SnapshotTable(spark, str(tmp_path / "t"))
    k = F.col("id").alias("k")
    t.append(spark.range(0, 10).select(k), n_files=1)
    t.append(spark.range(10, 20).select(k, F.lit("s").alias("s")), n_files=1)

    pyds.register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    stream = spark.readStream.format("snapshot").option("path", t.path).load()

    def drain():
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    first = drain()
    assert first.columns == ["k", "s"]
    assert sorted(first.collect()) == [(i, None) for i in range(10)] + [
        (i, "s") for i in range(10, 20)
    ]
    t.append(spark.range(20, 25).select(k, F.lit("s").alias("s"), k.alias("z")))
    got = drain()
    assert got.columns == ["k", "s"]
    assert sorted(r["k"] for r in got.collect()) == list(range(25))


def test_pyds_write_append_roundtrip(spark, tmp_path):
    """df.write.format("snapshot"): two appends commit as two snapshot
    versions readable by both the format reader and SnapshotTable, with
    time travel intact."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    pyds.register(spark)
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    path = str(tmp_path / "t")

    half = ev.filter(F.col("event_id") % 2 == 0)
    half.write.format("snapshot").option("path", path).mode("append").save()
    rest = ev.filter(F.col("event_id") % 2 == 1)
    rest.write.format("snapshot").option("path", path).mode("append").save()

    back = spark.read.format("snapshot").option("path", path).load()
    assert back.count() == ev.count()
    v1 = (
        spark.read.format("snapshot").option("path", path).option("version", 1).load()
    )
    assert v1.count() == half.count()

    t = SnapshotTable(spark, path)
    assert [m["operation"] for m in t.history()] == ["append", "append"]
    assert t.read().count() == ev.count()

    # overwrite drops previous files from the new snapshot
    half.write.format("snapshot").option("path", path).mode("overwrite").save()
    assert (
        spark.read.format("snapshot").option("path", path).load().count()
        == half.count()
    )


def _dv_table(spark, path):
    """100 rows of ``k``, then a deletion vector over ``k < 10``."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    pyds.register(spark)
    t = SnapshotTable(spark, path)
    t.append(spark.range(100).withColumnRenamed("id", "k"), n_files=2)
    t.delete_where_dv(F.col("k") < 10)
    assert t.read().count() == 90
    return t


def test_pyds_write_append_keeps_tombstones(spark, tmp_path):
    """A format("snapshot") append on a table with a deletion vector
    carries the head's tombstones and stamps the new files' sequence
    numbers: the deleted rows stay deleted."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )

    path = str(tmp_path / "t")
    t = _dv_table(spark, path)
    before = t._manifest(t.current_version)
    spark.range(200, 205).withColumnRenamed("id", "k").write.format(
        "snapshot"
    ).option("path", path).mode("append").save()
    t = SnapshotTable(spark, path)
    assert t.read().count() == 95
    m = t._manifest(t.current_version)
    assert m["operation"] == "append"
    assert m["delete_files"] == before["delete_files"]
    new = [f for f in m["files"] if f not in before["files"]]
    assert new and all(m["file_seqs"][f] == m["version"] for f in new)
    assert all(m["file_seqs"][f] == before["file_seqs"][f] for f in before["files"])


def test_pyds_read_refuses_tombstoned_snapshot(spark, tmp_path):
    """format("snapshot") reads data files only: on a snapshot carrying
    delete files it raises, naming them, instead of returning the deleted
    rows; after compact() it reads the live rows."""
    import pytest

    path = str(tmp_path / "t")
    t = _dv_table(spark, path)
    vector = t._manifest(t.current_version)["delete_files"][0]["file"]
    with pytest.raises(Exception, match=vector):
        spark.read.format("snapshot").option("path", path).load().count()
    t.compact()
    assert spark.read.format("snapshot").option("path", path).load().count() == 90


def test_load_normalizes_events_ts_repr(spark, tmp_path):
    """The driver has regenerated events.parquet with three different ts
    physical types across rounds (TIMESTAMP(NANOS) -> long shim;
    timestamp[us] UTC-adjusted -> LTZ; timestamp[us] naive -> NTZ). The
    load choke point must hand every downstream operator a plain
    TIMESTAMP (LTZ) column with identical UTC instants regardless of
    which representation the parquet carries."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from awscommunityday_2025_iceberg_snowfalke_spark.sources import registry

    base = dt.datetime(2024, 1, 5, 12, 30, 0)
    rows = [base + dt.timedelta(hours=i) for i in range(4)]
    variants = {
        "ntz": pa.timestamp("us"),
        "ltz": pa.timestamp("us", tz="UTC"),
        "nanos": pa.timestamp("ns"),
    }
    got = {}
    for name, ts_type in variants.items():
        d = tmp_path / name
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array([1, 2, 3, 4], pa.int64()),
                "ts": pa.array(rows, pa.timestamp("us")).cast(ts_type),
                "user_id": pa.array([1, 1, 2, 2], pa.int64()),
                "event_type": pa.array(["a", "b", "a", "b"]),
                "value": pa.array([1.0, 2.0, 3.0, 4.0]),
                "props": pa.array(["{}"] * 4),
            }
        )
        pq.write_table(tbl, str(d / "events.parquet"))
        df = registry.load(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        got[name] = sorted(r["ts"] for r in df.select("ts").collect())
    assert got["ntz"] == got["ltz"] == got["nanos"]


def test_pyds_bloom_pushdown_plan_level(spark, tmp_path):
    """Bloom-sidecar pruning inside pushFilters: on a scrambled layout
    where footer min/max keeps every file, an EqualTo on the indexed
    column plans ~1 split, an absent key plans 0, a column without a
    sidecar (or a pre-sidecar table) falls back to footer behavior."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
        _write_chunked,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.pyds import (
        SnapshotReader,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    t = SnapshotTable(spark, str(tmp_path / "b"))
    _write_chunked(
        t,
        docs.withColumn("_c", (F.col("doc_id") * F.lit(2654435761)) % F.lit(8)),
    )
    mx = int(docs.agg(F.max("doc_id")).collect()[0][0])
    probe = mx // 3

    # pre-sidecar: footer stats keep all 8 files (scrambled layout)
    r0 = SnapshotReader({"path": t.path})
    r0.pushFilters([EqualTo(("doc_id",), probe)])
    assert len(r0.partitions()) == 8

    t.build_bloom_index("doc_id")
    r1 = SnapshotReader({"path": t.path})
    r1.pushFilters([EqualTo(("doc_id",), probe)])
    assert len(r1.partitions()) == 1  # fp-free at this density

    r2 = SnapshotReader({"path": t.path})
    r2.pushFilters([EqualTo(("doc_id",), mx + 999_983)])
    assert len(r2.partitions()) == 0  # absent key: nothing to read

    # un-indexed column: the bloom stage is a no-op — an in-bounds value
    # must keep every file (only footer fallback applies)
    r4 = SnapshotReader({"path": t.path})
    mid_chars = int(
        docs.agg(F.expr("percentile_approx(n_chars, 0.5)")).collect()[0][0]
    )
    r4.pushFilters([EqualTo(("n_chars",), mid_chars)])
    assert len(r4.partitions()) == 8


def test_pyds_tag_read(spark, tmp_path):
    """`option("tag", name)` resolves the immutable named ref through the
    source API (Iceberg's VERSION AS OF 'tag'): reads pin to the tagged
    snapshot across later appends; unknown tags fail loudly."""
    import pytest
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id")
    t = SnapshotTable(spark, str(tmp_path / "tg"))
    half = ev.filter(F.col("event_id") % 2 == 0)
    t.append(half, n_files=2)
    t.create_tag("training_v1")
    t.append(ev.filter(F.col("event_id") % 2 == 1), n_files=2)

    pyds.register(spark)
    tagged = (
        spark.read.format(pyds.FORMAT_NAME)
        .option("path", t.path)
        .option("tag", "training_v1")
        .load()
    )
    assert tagged.count() == half.count()
    latest = (
        spark.read.format(pyds.FORMAT_NAME).option("path", t.path).load()
    )
    assert latest.count() == ev.count()
    with pytest.raises(Exception, match="unknown tag"):
        (
            spark.read.format(pyds.FORMAT_NAME)
            .option("path", t.path)
            .option("tag", "nope")
            .load()
            .count()
        )


def _user_chunked_table(spark, path, stats_cols=None):
    """Events in 4 files by user_id quarter, with ``nv`` null-free in the
    lower half, mixed in the third quarter and all-NULL in the fourth."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )

    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    r = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, umax = int(r[0]), int(r[1])
    q = [umin + (umax - umin + 1) * k // 4 for k in range(5)]
    t = SnapshotTable(spark, path, stats_cols=stats_cols)
    for k in range(4):
        part = ev.filter(F.col("user_id").between(q[k], q[k + 1] - 1))
        nv = F.col("value") if k < 2 else F.lit(None).cast("double")
        if k == 2:
            nv = F.when(F.col("event_id") % 2 == 0, F.col("value"))
        t.append(part.withColumn("nv", nv), n_files=1)
    return t, umin, umax, q


def test_pyds_and_table_planners_keep_the_same_files(spark, tmp_path):
    """One pruning rule: on one table, the source's ``pushFilters``, the
    footer planner ``plan_scan`` and the manifest planner
    ``plan_scan_manifests`` keep the same files for =, >=, <=, IS NULL and
    IS NOT NULL; and the source's strict > and < prune a file whose max
    (min) equals the value."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    from awscommunityday_2025_iceberg_snowfalke_spark.sources.pyds import (
        SnapshotReader,
    )

    t, umin, umax, q = _user_chunked_table(
        spark, str(tmp_path / "t"), stats_cols=("user_id", "nv")
    )
    st = {s["file"]: s for s in t.file_stats("user_id")}
    mid = min(s["min"] for s in st.values() if s["min"] >= q[2])

    def source(*filters):
        r = SnapshotReader({"path": t.path})
        r.pushFilters(list(filters))
        return {os.path.basename(p.path) for p in r.partitions()}

    cases = [
        (EqualTo(("user_id",), mid), {"user_id": (mid, mid)}),
        (GreaterThanOrEqual(("user_id",), mid), {"user_id": (mid, umax)}),
        (LessThanOrEqual(("user_id",), mid), {"user_id": (umin, mid)}),
        (IsNull(("nv",)), {"nv": "is_null"}),
        (IsNotNull(("nv",)), {"nv": "is_not_null"}),
    ]
    for flt, preds in cases:
        foot = set(t.plan_scan(preds)["files_read"])
        mani = set(t.plan_scan_manifests(predicates=preds)["files_read"])
        assert source(flt) == foot == mani, (flt, preds)
        assert 0 < len(foot) < 4, (flt, foot)

    for f, s in st.items():
        assert f not in source(GreaterThan(("user_id",), s["max"]))
        assert f not in source(LessThan(("user_id",), s["min"]))
        assert f in source(GreaterThanOrEqual(("user_id",), s["max"]))
        assert f in source(LessThanOrEqual(("user_id",), s["min"]))


def test_pyds_unknown_version_names_it(spark, tmp_path):
    """An unknown ``version`` fails as a ValueError naming it (not a raw
    FileNotFoundError from the manifest open)."""
    import pytest

    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    t, *_ = _user_chunked_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no snapshot v99 in"):
        pyds.SnapshotReader({"path": t.path, "version": "99"})
    pyds.register(spark)
    with pytest.raises(Exception, match="ValueError: no snapshot v99 in") as e:
        (
            spark.read.format(pyds.FORMAT_NAME)
            .option("path", t.path)
            .option("version", 99)
            .load()
            .count()
        )
    assert "FileNotFoundError" not in str(e.value)


def test_snapshot_reader_ships_by_value(spark, tmp_path):
    """Spark's plan-time Python runner and its workers do not inherit the
    driver's sys.path: a pickled ``SnapshotReader`` must plan and prune
    in an interpreter that cannot import the package, so everything its
    code paths call has to ship by value (``pyds.register``)."""
    import json
    import subprocess
    import sys

    from pyspark import cloudpickle

    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    t, _, _, q = _user_chunked_table(spark, str(tmp_path / "t"))
    pyds.register(spark)
    want = pyds.SnapshotReader({"path": t.path})
    want.pushFilters([pyds.GreaterThanOrEqual(("user_id",), q[3])])
    code = (
        "import json, pickle, sys\n"
        "from pyspark.sql.datasource import GreaterThanOrEqual\n"
        "r = pickle.loads(sys.stdin.buffer.read())\n"
        f"r.pushFilters([GreaterThanOrEqual(('user_id',), {q[3]})])\n"
        "print(json.dumps([p.path for p in r.partitions()]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(pyds.SnapshotReader({"path": t.path})),
        cwd=cwd,
        env=env,
        capture_output=True,
        check=False,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    got = json.loads(out.stdout)
    assert got == [p.path for p in want.partitions()] and len(got) == 1


def test_merge_full_accounting_and_state(spark, tmp_path):
    """merge_full leaves the table exactly equal to the source and the
    accounting identities hold: rows_after = updated + inserted,
    rows_before = updated + deleted."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        SnapshotTable,
    )

    events = load(spark, SF_DIR, "events").select("event_id", "event_type", "value")
    t = SnapshotTable(spark, str(tmp_path / "mf"))
    target = events.filter(F.col("event_id") % 3 != 0)
    source = events.filter(F.col("event_id") % 2 == 0)
    t.append(target, n_files=2)
    acct = t.merge_full(source, ["event_id"], n_files=2)
    assert acct["rows_after"] == acct["updated"] + acct["inserted"]
    assert acct["rows_before"] == acct["updated"] + acct["deleted"]
    assert t.read().count() == source.count()
    # table state IS the source (exceptAll both ways is empty)
    assert t.read().exceptAll(source).count() == 0
    assert source.exceptAll(t.read()).count() == 0
    assert t.history()[-1]["operation"] == "merge.full"


def test_jsonl_roundtrip_preserves_adversarial_text(spark, tmp_path):
    """The injected escape-adversarial rows must survive the JSONL write
    → explicit-schema read BYTE-EXACTLY (newline, tab, quote, backslash,
    non-BMP unicode) — the fidelity claim behind the aggregate entry."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.writers import (
        JSONL_ADVERSARIAL,
    )

    adv = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in JSONL_ADVERSARIAL],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "jsonl")
    adv.write.mode("overwrite").json(path)
    back = {
        r["doc_id"]: r["text"]
        for r in spark.read.schema(adv.schema).json(path).collect()
    }
    assert back == {i: t for i, t, _, _ in JSONL_ADVERSARIAL}


def test_avro_roundtrip_matches_orc(spark):
    """The Avro roundtrip: the format resolver finds a usable provider
    (this distribution bundles the classes in spark-sql but does not
    ServiceLoader-register the short name — the resolver falls back to
    the fully-qualified provider), and the roundtrip's fidelity
    aggregate equals the ORC twin's over the same events — any
    Avro-encoder type mangle (timestamp precision, double bits, string
    encoding) splits the two."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.writers import (
        avro_format,
        avro_roundtrip_events,
        orc_roundtrip_events,
    )

    assert avro_format(spark) is not None
    got = {tuple(r) for r in avro_roundtrip_events(spark, SF_DIR).collect()}
    want = {tuple(r) for r in orc_roundtrip_events(spark, SF_DIR).collect()}
    assert got == want


LOCAL_FRAME_DDL = (
    "i int, l bigint, d double, s string, b boolean, dt date,"
    " ts timestamp, ntz timestamp_ntz, arr array<double>"
)


def test_local_frame_equals_the_list_path_over_a_type_matrix(spark):
    """``local_frame`` returns the rows and dtypes that
    ``createDataFrame(list, ddl)`` returns, for every column type the
    package builds on the driver, NULLs and zero rows included."""
    import datetime as dt

    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
        local_frame,
    )

    utc = dt.timezone.utc
    rows = [
        (
            1, 2**40, 0.1, "ä ü 日本", True, dt.date(2024, 1, 31),
            dt.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=utc),
            dt.datetime(2024, 1, 2, 3, 4, 5, 678901), [1.5, -0.0, 2.25],
        ),
        (
            -(2**31), -(2**63), -1e300, "", False, dt.date(1970, 1, 1),
            dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=utc),
            dt.datetime(1900, 1, 1), [],
        ),
        (None,) * 9,
    ]
    for data in (rows, []):
        got = local_frame(spark, data, LOCAL_FRAME_DDL)
        want = spark.createDataFrame(data, LOCAL_FRAME_DDL)
        assert got.dtypes == want.dtypes
        assert got.schema == want.schema
        assert got.collect() == want.collect()


def test_local_frame_is_a_local_relation_and_starts_no_python_worker(tmp_path):
    """A driver-built table is a ``LocalRelation``: in a fresh JVM,
    ``local_frame`` and ``bpe_train_merges`` (whose merge table is one)
    run without the JVM starting any Python process. The list path of
    ``createDataFrame`` forks the PySpark daemon for the same rows."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry"
        " import local_frame\n"
        "from awscommunityday_2025_iceberg_snowfalke_spark.operators.textstats"
        " import bpe_train_merges\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "    .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "jvm = spark.sparkContext._jvm.ProcessHandle.current().pid()\n"
        "kids = lambda: subprocess.run(['ps', '-o', 'pid=', '--ppid', str(jvm)],\n"
        "    capture_output=True, text=True).stdout.split()\n"
        "df = local_frame(spark, [(1, 'a')], 'k bigint, v string')\n"
        "plan = df._jdf.queryExecution().analyzed().toString()\n"
        "assert plan.startswith('LocalRelation'), plan\n"
        "assert df.collect()[0]['v'] == 'a'\n"
        f"assert bpe_train_merges(spark, {SF_DIR!r}).count() > 0\n"
        "print('arrow', len(kids()))\n"
        "spark.createDataFrame([(1, 'a')], 'k bigint, v string').collect()\n"
        "print('list', len(kids()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=False,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    counts = dict(line.split() for line in out.stdout.splitlines())
    assert counts == {"arrow": "0", "list": "1"}, counts
