"""Lifecycle semantics (SURVEY §2.10): snapshots, time travel, schema
evolution, compaction (incl. sort-clustered), snapshot expiry, orphan GC,
and the MV refresh contract."""

import os

import pytest
from pyspark.sql import functions as F

from awscommunityday_2025_iceberg_snowfalke_spark.mv import MaterializedView
from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
    SnapshotTable,
)
from awscommunityday_2025_iceberg_snowfalke_spark.operators.relational import (
    daily_user_stats,
)
from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

from conftest import SF_DIR, jobs_of


@pytest.fixture
def events(spark):
    return load(spark, SF_DIR, "events")


def test_append_and_time_travel(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    half = events.filter(F.col("event_id") % 2 == 0)
    v1 = t.append(half, n_files=4)
    v2 = t.append(events.filter(F.col("event_id") % 2 == 1), n_files=4)
    assert (v1, v2) == (1, 2)
    assert t.read(version=1).count() == half.count()
    assert t.read(version=2).count() == events.count()
    assert t.read().count() == events.count()  # current == v2


def test_concurrent_appends_lose_nothing(spark, events, tmp_path):
    """T1 (P:111-121): two writers appending concurrently to the same table
    must both land — the CAS manifest commit forces the loser of each
    version race to re-base on the winner's file list, so no committed
    file is ever dropped. Verifies commit count, final row count, and that
    every appended data file is present in the final manifest."""
    import threading

    t_path = str(tmp_path / "t")
    n_writers, per_writer = 3, 4
    n_slices = n_writers * per_writer
    slices = {
        w: [
            events.filter(
                (F.col("event_id") % n_slices) == (w * per_writer + i)
            ).cache()
            for i in range(per_writer)
        ]
        for w in range(n_writers)
    }
    expected_rows = sum(df.count() for s in slices.values() for df in s)
    errs = []

    def writer(w):
        try:
            tbl = SnapshotTable(spark, t_path)  # one table handle per writer
            for df in slices[w]:
                tbl.append(df, n_files=1)
        except Exception as exc:  # pragma: no cover - surfaced via errs
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    tbl = SnapshotTable(spark, t_path)
    hist = tbl.history()
    assert len(hist) == n_slices  # every append got its own committed version
    assert all(m["operation"] == "append" for m in hist)
    final_files = set(tbl._manifest(tbl.current_version)["files"])
    on_disk = {f for f in os.listdir(os.path.join(t_path, "data"))}
    assert final_files == on_disk  # no orphaned (lost) appends
    assert tbl.read().count() == expected_rows
    for df in (d for s in slices.values() for d in s):
        df.unpersist()


def test_time_travel_by_timestamp(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.limit(10))
    ts_between = t.history()[0]["timestamp"] + 0.0001
    t.append(events.limit(50))
    assert t.read(as_of=ts_between).count() == 10
    with pytest.raises(ValueError):
        t.read(as_of=ts_between - 1000)


def test_schema_evolution_reads_old_files(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.select("event_id", "event_type"))
    t.append(
        events.select("event_id", "event_type").withColumn(
            "user_agent", F.lit("spark-ua")
        )
    )
    cur = t.read()
    assert "user_agent" in cur.columns  # T3: new column visible
    n_null = cur.filter(F.col("user_agent").isNull()).count()
    assert n_null == events.count()  # old files readable, column null


def test_compaction_reduces_files_preserves_rows(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=16)  # the small-file pathology (GEN:83-110)
    assert len(t.files()) == 16
    t.compact(target_files=2)
    assert len(t.files()) == 2
    assert t.read().count() == events.count()
    # old snapshot still readable until expiry
    assert len(t.files(version=1)) == 16


def test_sorted_compaction_clusters(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=8)
    t.compact(target_files=1, sort_by=["user_id", "ts"])
    rows = t.read().select("user_id").collect()
    vals = [r.user_id for r in rows]
    assert vals == sorted(vals)  # single file, clustered by sort key


def test_expire_and_orphan_gc(spark, events, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=8)
    t.compact(target_files=1)
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1]
    removed = t.remove_orphan_files()
    # the 8 pre-compaction data files + the expired append's manifest file
    assert len([r for r in removed if not r.startswith("manifests/")]) == 8
    assert len([r for r in removed if r.startswith("manifests/")]) == 1
    data_dir = os.path.join(t.path, "data")
    assert len(os.listdir(data_dir)) == 1
    assert t.read().count() == events.count()


def test_mv_refresh_contract(spark, tmp_path):
    mv = MaterializedView("daily_user_stats", daily_user_stats, str(tmp_path))
    assert mv.is_stale(SF_DIR)
    with pytest.raises(ValueError):
        mv.read(spark)
    mv.refresh(spark, SF_DIR)
    assert not mv.is_stale(SF_DIR)
    direct = daily_user_stats(spark, SF_DIR)
    assert mv.read(spark).count() == direct.count()
    assert mv.read_or_refresh(spark, SF_DIR).count() == direct.count()


def test_mv_incremental_refresh(spark, tmp_path):
    """Partitioned MV: incremental refresh rewrites ONLY the trailing
    reprocess window and the result equals a full recompute."""
    import glob

    mv = MaterializedView(
        "daily_inc", daily_user_stats, str(tmp_path), partition_col="event_date"
    )
    mv.refresh(spark, SF_DIR)
    full = sorted(
        tuple(r) for r in daily_user_stats(spark, SF_DIR).collect()
    )

    # record per-partition data-file mtimes before the incremental pass
    def part_mtimes():
        out = {}
        for d in glob.glob(os.path.join(mv.path, "event_date=*")):
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            out[os.path.basename(d)] = tuple(
                os.stat(f).st_mtime_ns for f in files
            )
        return out

    before = part_mtimes()
    tail = mv.refresh_incremental(spark, SF_DIR, reprocess=2)
    assert len(tail) == 2
    after = part_mtimes()

    changed = {p for p in after if after[p] != before.get(p)}
    assert changed == {f"event_date={t}" for t in tail}, (
        "incremental refresh must rewrite exactly the reprocess window"
    )
    from pyspark.sql import functions as F

    cols = daily_user_stats(spark, SF_DIR).columns
    got = sorted(
        tuple(r)
        for r in mv.read(spark)
        # partition discovery re-infers event_date as DATE; normalize back
        .withColumn("event_date", F.date_format("event_date", "yyyy-MM-dd"))
        .select(*cols)
        .collect()
    )
    assert got == full


def test_merge_upsert(spark, tmp_path):
    """MERGE semantics: matched keys updated, unmatched inserted, one
    atomic snapshot, target rows without a source match untouched."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, k string, v double"
    )
    t.append(base)
    src = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id long, k string, v double"
    )
    v = t.merge(src, keys=["id"])
    assert v == 2
    got = {r["id"]: (r["k"], r["v"]) for r in t.read().collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # time travel still sees the pre-merge state
    assert {r["id"] for r in t.read(version=1).collect()} == {1, 2, 3}
    assert [m["operation"] for m in t.history()] == ["append", "merge"]


def test_compact_carries_concurrent_append(spark, events, tmp_path):
    """Append-vs-rewrite race: a compaction computed from snapshot N must
    NOT drop files appended by a concurrent writer before the compaction
    commits. Exercises the exact race window deterministically: compute
    the rewrite from v1, land a concurrent append (v2), then commit the
    rewrite — the commit must carry the appended files forward."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)
    t.append(a, n_files=4)  # v1

    base = t.current_version
    compacted = t._write_files(t.read(version=base), 1)  # rewrite computed...
    other = SnapshotTable(spark, str(tmp_path / "t"))
    other.append(b, n_files=2)  # ...while a concurrent append lands (v2)
    v = t._commit_rewrite(base, compacted, "compact")  # rewrite commits last

    assert v == 3
    assert t.read().count() == a.count() + b.count()  # nothing lost
    files = t._manifest(v)["files"]
    assert len(files) == 3  # 1 compacted + 2 concurrently appended


def test_rewrite_vs_rewrite_conflict_raises(spark, events, tmp_path):
    """Two concurrent rewrites of the same base snapshot: the second
    commit must fail with CommitConflict (Iceberg's rewrite validation),
    never silently clobber the first rewrite's result."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=4)  # v1

    base = t.current_version
    loser = t._write_files(t.read(version=base), 1)  # rewrite A computed...
    SnapshotTable(spark, str(tmp_path / "t")).compact(target_files=2)  # B wins
    with pytest.raises(CommitConflict):
        t._commit_rewrite(base, loser, "compact")
    assert t.read().count() == events.count()
    assert len(t.files()) == 2  # winner's layout intact


def test_changelog_classifies_and_compact_is_silent(spark, events, tmp_path):
    """changelog(v1, v2) over an append = pure inserts; a MERGE shows up
    as update pre/post pairs; and a compact-only commit yields an EMPTY
    changelog (rewrite noise must cancel via whole-row equality)."""
    from pyspark.sql import functions as F

    t = SnapshotTable(spark, str(tmp_path / "t"))
    half = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    t.append(half, n_files=2)   # v1
    t.append(rest, n_files=2)   # v2
    ins = t.changelog(1, 2, keys=["event_id"])
    assert ins.select("change_type").distinct().collect()[0][0] == "insert"
    assert ins.count() == rest.count()

    src = events.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 1
    )
    t.merge(src, keys=["event_id"], n_files=2)  # v3
    ch = t.changelog(2, 3, keys=["event_id"])
    got = dict(
        (r["change_type"], r["n"]) for r in
        ch.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n_upd = src.count()
    assert got == {"update_preimage": n_upd, "update_postimage": n_upd}, got

    t.compact(target_files=1)  # v4: row-neutral
    assert t.changelog(3, 4, keys=["event_id"]).count() == 0


def test_mor_delete_tombstones_survive_append_and_gc(spark, events, tmp_path):
    """MOR equality deletes: the tombstone list must ride through later
    appends (an append commit that dropped delete_files would silently
    resurrect deleted rows), active tombstone files must survive orphan
    GC, time travel BEFORE the delete still sees the rows, and compact
    materializes + clears the tombstones."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    cold = events.filter(F.col("event_id") % 2 == 0)
    hot = events.filter(F.col("event_id") % 2 == 1)
    t.append(cold, n_files=2)  # v1
    doomed = cold.filter(F.col("event_type") == "error").select("event_id")
    n_doomed = doomed.count()
    t.delete_where_mor(doomed, ["event_id"])  # v2
    assert t.read().count() == cold.count() - n_doomed
    assert t.read(version=1).count() == cold.count()  # time travel: intact

    t.append(hot, n_files=2)  # v3 — must carry tombstones forward
    assert t.read().count() == cold.count() - n_doomed + hot.count()
    assert len(t._manifest(3)["delete_files"]) == 1

    assert t.remove_orphan_files() == []  # tombstone file is live
    assert t.read().count() == cold.count() - n_doomed + hot.count()

    t.compact(target_files=1)  # v4: materialize + clear
    assert t._manifest(4)["delete_files"] == []
    assert t.read().count() == cold.count() - n_doomed + hot.count()


def test_mv_refresh_partitions_touches_only_changed(spark, events, tmp_path):
    """Changelog-driven MV refresh must rewrite ONLY the named partition
    values: untouched day directories keep their files byte-for-byte
    (mtime+name identical), changed days are rewritten, and the refreshed
    MV equals a full rebuild."""
    import os

    from awscommunityday_2025_iceberg_snowfalke_spark.mv import MaterializedView

    src = events.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    state = {"upto": "2024-01-20"}

    def build(spark_, _sf):
        return (
            src.filter(F.col("event_date") < state["upto"])
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    mv = MaterializedView("t", build, str(tmp_path), partition_col="event_date")
    mv.refresh(spark, SF_DIR)

    def snap(day):
        d = os.path.join(mv.path, f"event_date={day}")
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    before_05 = snap("2024-01-05")
    before_19 = snap("2024-01-19")

    state["upto"] = "2024-01-31"  # new data arrives for days >= 20... and 19
    changed = ["2024-01-19", "2024-01-22"]
    mv.refresh_partitions(spark, SF_DIR, changed)

    assert snap("2024-01-05") == before_05, "untouched partition rewritten"
    assert snap("2024-01-19") != before_19, "changed partition not rewritten"
    # partition-column type inference reads the day dirs back as DATE
    got = {str(r["event_date"]): r["n"] for r in mv.read(spark).collect()}
    full = {
        r["event_date"]: r["n"]
        for r in build(spark, None)
        .filter(F.col("event_date").isin(["2024-01-05", "2024-01-19", "2024-01-22"]))
        .collect()
    }
    for d in ("2024-01-05", "2024-01-19", "2024-01-22"):
        assert got[d] == full[d], d


def test_mor_delete_sequence_scoping_reinsert_survives(spark, events, tmp_path):
    """Iceberg-v2 sequence semantics: an equality delete applies only to
    data files with seq <= the delete's — a row re-inserted AFTER the
    delete must SURVIVE reads while the original stays deleted, and
    compaction must materialize exactly that state."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = events.filter(F.col("event_id") < 100)
    t.append(base, n_files=2)                       # v1 (seq 1)
    doomed = base.filter(F.col("event_id") % 7 == 0).select("event_id")
    n_doomed = doomed.count()
    t.delete_where_mor(doomed, ["event_id"])        # v2 (delete seq 2)
    assert t.read().count() == base.count() - n_doomed

    # re-insert half the doomed keys AFTER the delete (seq 3 > 2)
    reinserted = events.filter(
        (F.col("event_id") % 14 == 0) & (F.col("event_id") < 100)
    )
    n_re = reinserted.count()
    assert n_re > 0
    t.append(reinserted, n_files=1)                 # v3
    assert t.read().count() == base.count() - n_doomed + n_re, (
        "re-inserted keys must not be hidden by the older tombstone"
    )
    survivors = {r["event_id"] for r in t.read().select("event_id").collect()}
    assert all(i in survivors for i in range(0, 100, 14))
    assert all(i not in survivors for i in range(7, 100, 14))

    t.compact(target_files=1)                       # v4 materializes
    assert t._manifest(4)["delete_files"] == []
    assert t.read().count() == base.count() - n_doomed + n_re


def test_changelog_exact_across_mor_delete(spark, events, tmp_path):
    """A MOR-delete commit's changelog must emit exactly the deleted
    rows (full pre-image, change_type=delete), and the subsequent
    compaction's changelog must be EMPTY — the tombstone interval
    already reported those deletes; re-reporting at materialization
    would double-count them downstream."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = events.filter(F.col("event_id") < 200)
    t.append(base, n_files=2)                       # v1
    doomed = base.filter(F.col("event_type") == "error").select("event_id")
    n_doomed = doomed.count()
    assert n_doomed > 0
    t.delete_where_mor(doomed, ["event_id"])        # v2

    ch = t.changelog(1, 2, keys=["event_id"]).collect()
    assert len(ch) == n_doomed
    assert {r["change_type"] for r in ch} == {"delete"}
    assert {r["event_id"] for r in ch} == {
        r["event_id"] for r in doomed.collect()
    }
    assert all(r["event_type"] == "error" for r in ch), "full pre-image"

    t.compact(target_files=1)                       # v3 materializes
    assert t.changelog(2, 3, keys=["event_id"]).count() == 0, (
        "compaction must not re-report tombstoned rows"
    )


def test_changelog_append_then_mor_delete_nets_out(spark, events, tmp_path):
    """ADVICE r9: keys appended AND MOR-deleted inside the changelog
    interval are dead at v_to and must NOT emit as inserts — an
    incremental consumer applying the changelog must land in v_to's
    exact state. Re-inserts AFTER the delete (seq > delete seq) must
    still surface as inserts."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = events.filter(F.col("event_id") < 100)
    t.append(base, n_files=2)                             # v1
    batch = events.filter(
        (F.col("event_id") >= 100) & (F.col("event_id") < 105)
    )
    assert batch.count() == 5
    t.append(batch, n_files=1)                            # v2: +5 rows
    t.delete_where_mor(batch.select("event_id"), ["event_id"])  # v3
    assert t.read().count() == base.count()               # the 5 are gone

    ch = t.changelog(1, 3, keys=["event_id"]).collect()
    assert ch == [], (
        "appended-then-MOR-deleted keys must net out of the changelog; "
        f"got {[(r['change_type'], r['event_id']) for r in ch]}"
    )

    # consumer-state check across the full history: replaying
    # changelog(1, v) onto v1 must reproduce read(version=v)
    reins = events.filter(
        (F.col("event_id") >= 100) & (F.col("event_id") < 103)
    )
    t.append(reins, n_files=1)                            # v4: re-insert 3
    ch2 = t.changelog(1, 4, keys=["event_id"])
    got = {
        r["change_type"]: r["n"]
        for r in ch2.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"insert": 3}, got
    ids = {r["event_id"] for r in ch2.select("event_id").collect()}
    assert ids == {100, 101, 102}


def test_changelog_delete_of_preexisting_key_single_emission(
    spark, events, tmp_path
):
    """A key live at v_from, tombstoned inside the interval, emits exactly
    ONE delete row — including when a rewrite ALSO moved its file in the
    interval (the full-outer side and the MOR pre-image side must not
    both report it)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    base = events.filter(F.col("event_id") < 100)
    t.append(base, n_files=2)                             # v1
    doomed = base.filter(F.col("event_id") % 9 == 0).select("event_id")
    n_doomed = doomed.count()

    # plain MOR delete (files unchanged): one delete per key
    t.delete_where_mor(doomed, ["event_id"])              # v2
    ch = t.changelog(1, 2, keys=["event_id"])
    assert ch.count() == n_doomed
    assert ch.select("change_type").distinct().collect()[0][0] == "delete"

    # rewrite + delete in the SAME interval: still one delete per key
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(base, n_files=2)                            # v1
    t2.compact(target_files=1)                            # v2: files move
    t2.delete_where_mor(doomed, ["event_id"])             # v3
    ch2 = t2.changelog(1, 3, keys=["event_id"]).collect()
    assert len(ch2) == n_doomed, (
        f"expected {n_doomed} single-emission deletes, got {len(ch2)}"
    )
    assert {r["change_type"] for r in ch2} == {"delete"}
    assert {r["event_id"] for r in ch2} == {
        r["event_id"] for r in doomed.collect()
    }


def test_rewrite_vs_mor_delete_conflict_raises(spark, events, tmp_path):
    """ADVICE r9: a rewrite computed against base must NOT commit over a
    concurrent merge-on-read delete — the rewrite read base's live rows,
    so committing it with empty delete_files would resurrect the
    concurrently deleted keys. Iceberg's rewrite validation fails on new
    delete files; so must ours."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    base_df = events.filter(F.col("event_id") < 10)
    t.append(base_df, n_files=2)                          # v1 (10 rows)

    base = t.current_version
    rewritten = t._write_files(t.read(version=base), 1)   # rewrite computed...
    doomed = base_df.filter(F.col("event_id") < 3).select("event_id")
    SnapshotTable(spark, str(tmp_path / "t")).delete_where_mor(
        doomed, ["event_id"]
    )                                                     # ...delete lands v2
    with pytest.raises(CommitConflict):
        t._commit_rewrite(base, rewritten, "compact")
    assert t.read().count() == 7, "deleted rows must stay deleted"

    # the caller's documented recovery: re-read and re-run the rewrite
    t.compact(target_files=1)
    assert t.read().count() == 7
    assert t._manifest(t.current_version)["delete_files"] == []


def test_mv_refresh_partitions_removes_emptied_partition(
    spark, events, tmp_path
):
    """ADVICE r9: a requested partition whose rebuild yields ZERO rows
    (all source rows for that day deleted upstream) must be REMOVED from
    the MV — dynamic partition overwrite alone leaves the stale directory
    behind and the MV would retain deleted data."""
    src = events.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    state = {"dropped": None}

    def build(spark_, _sf):
        df = src
        if state["dropped"]:
            df = df.filter(F.col("event_date") != state["dropped"])
        return df.groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))

    mv = MaterializedView("t", build, str(tmp_path), partition_col="event_date")
    mv.refresh(spark, SF_DIR)
    assert os.path.isdir(os.path.join(mv.path, "event_date=2024-01-10"))

    state["dropped"] = "2024-01-10"  # upstream deletes the whole day
    mv.refresh_partitions(spark, SF_DIR, ["2024-01-10"])

    assert not os.path.isdir(os.path.join(mv.path, "event_date=2024-01-10")), (
        "emptied partition directory must be removed"
    )
    days = {str(r[0]) for r in mv.read(spark).select("event_date").collect()}
    assert "2024-01-10" not in days
    # incremental result == full rebuild (the MV invariant)
    assert mv.read(spark).count() == build(spark, None).count()


def test_branch_tag_isolation_ff_and_gc(spark, events, tmp_path):
    """Branches & tags: a tag pins its snapshot across later commits; a
    branch takes writes invisibly to main; fast_forward publishes
    metadata-only; fast_forward conflicts when main moved; unpublished
    branch files survive orphan GC."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    cold = events.filter(F.col("event_id") % 2 == 0)
    hot = events.filter(F.col("event_id") % 2 == 1)

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(cold, n_files=2)                       # v1
    t.create_tag("baseline")
    t.create_branch("audit")
    t.append_to_branch("audit", hot, n_files=2)
    assert t.read().count() == cold.count()         # isolation
    assert t.read_branch("audit").count() == events.count()
    # unpublished branch files are GC-live
    assert t.remove_orphan_files() == []
    assert t.read_branch("audit").count() == events.count()

    v = t.fast_forward("audit")                     # metadata-only publish
    assert v == 2
    assert t.read().count() == events.count()
    assert t.read_tag("baseline").count() == cold.count()  # tag still pins v1
    assert [m["operation"] for m in t.history()] == [
        "append",
        "fast_forward.audit",
    ]

    # refs metadata table lists main + the tag + the branch
    refs = {(r["name"], r["kind"], r["version"]) for r in t.refs()}
    assert refs == {
        ("main", "branch", 2),
        ("baseline", "tag", 1),
        ("audit", "branch", 2),
    }, refs

    # duplicate branch name must refuse
    with pytest.raises(ValueError):
        t.create_branch("audit")

    # fast_forward after main moved: ancestor check must conflict
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(cold, n_files=2)                      # v1
    t2.create_branch("b")
    t2.append_to_branch("b", hot, n_files=1)
    t2.append(hot.limit(10), n_files=1)             # main moves to v2
    with pytest.raises(CommitConflict):
        t2.fast_forward("b")


def test_position_delete_semantics(spark, events, tmp_path):
    """Position deletes (Iceberg v2's second encoding): rows die by
    (file, row_index), not key — so a key re-APPENDED after the delete
    survives trivially (new file, new positions), time travel still sees
    the pre-delete rows, compact materializes + clears, the changelog
    emits exact full pre-images, and the final state is row-identical to
    the equality-delete twin."""
    base = events.filter(F.col("event_id") < 200)
    doomed_pred = F.col("event_type") == "error"
    n_doomed = base.filter(doomed_pred).count()
    assert n_doomed > 0

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(base, n_files=3)                        # v1
    t.delete_where_positional(doomed_pred)           # v2
    assert t.read().count() == base.count() - n_doomed
    assert t.read(version=1).count() == base.count()  # time travel intact
    survivors = {r["event_id"] for r in t.read().select("event_id").collect()}
    dead = {r["event_id"] for r in base.filter(doomed_pred).select("event_id").collect()}
    assert not (survivors & dead)

    # changelog across the position-delete commit: exact pre-images
    ch = t.changelog(1, 2, keys=["event_id"]).collect()
    assert len(ch) == n_doomed
    assert {r["change_type"] for r in ch} == {"delete"}
    assert all(r["event_type"] == "error" for r in ch)

    # re-append one deleted key AFTER the delete: new positions, survives
    reins = base.filter(doomed_pred).limit(1)
    t.append(reins, n_files=1)                       # v3
    assert t.read().count() == base.count() - n_doomed + 1

    t.compact(target_files=1)                        # v4 materializes
    assert t._manifest(t.current_version)["delete_files"] == []
    assert t.read().count() == base.count() - n_doomed + 1

    # equality twin lands the identical pre-reinsert state
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(base, n_files=3)
    t2.delete_where_mor(
        base.filter(doomed_pred).select("event_id"), ["event_id"]
    )
    eq_rows = sorted(
        (r["event_id"], r["event_type"]) for r in t2.read().collect()
    )
    t3 = SnapshotTable(spark, str(tmp_path / "t3"))
    t3.append(base, n_files=3)
    t3.delete_where_positional(doomed_pred)
    pos_rows = sorted(
        (r["event_id"], r["event_type"]) for r in t3.read().collect()
    )
    assert eq_rows == pos_rows


def test_merge_mor_economics_and_changelog(spark, events, tmp_path):
    """merge_mor: one commit position-deletes the matched rows and
    appends the source — no existing file rewritten, final state equals
    the copy-on-write merge, changelog accounts delete(pre-image) +
    insert(post-image) for matches and plain inserts for new keys, and a
    concurrent rewrite invalidating the resolved positions conflicts."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    base = events.filter(F.col("event_id") < 100)
    src = events.filter(
        (F.col("event_id") >= 50) & (F.col("event_id") < 120)
    ).withColumn("value", F.col("value") + 1000)
    n_matched = 50   # ids 50..99
    n_inserted = 20  # ids 100..119

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(base, n_files=3)                        # v1
    v1_files = set(t._manifest(1)["files"])
    t.merge_mor(src, keys=["event_id"], n_files=2)   # v2
    assert v1_files <= set(t._manifest(2)["files"])  # nothing rewritten
    assert t.read().count() == 120
    got = {r["event_id"]: r["value"] for r in t.read().collect()}
    for r in src.collect():
        assert got[r["event_id"]] == r["value"]      # source wins on match

    # copy-on-write twin: identical observable state
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(base, n_files=3)
    t2.merge(src, keys=["event_id"], n_files=2)
    assert sorted((r["event_id"], r["value"]) for r in t.read().collect()) == \
           sorted((r["event_id"], r["value"]) for r in t2.read().collect())

    ch = t.changelog(1, 2, keys=["event_id"])
    counts = {
        r["change_type"]: r["n"]
        for r in ch.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {
        "insert": n_matched + n_inserted,
        "delete": n_matched,
    }, counts

    t.compact(target_files=1)                        # materialize
    assert t._manifest(t.current_version)["delete_files"] == []
    assert t.read().count() == 120

    # concurrent rewrite between resolve and commit → conflict
    t3 = SnapshotTable(spark, str(tmp_path / "t3"))
    t3.append(base, n_files=3)
    orig = t3._try_commit
    def racing(version, files, operation, **kw):
        # sneak a compact in just before merge_mor's first commit attempt
        if operation == "merge.mor" and not hasattr(racing, "done"):
            racing.done = True
            SnapshotTable(spark, str(tmp_path / "t3")).compact(target_files=1)
        return orig(version, files, operation, **kw)
    t3._try_commit = racing
    with pytest.raises(CommitConflict):
        t3.merge_mor(src, keys=["event_id"], n_files=1)


def test_rollback_restores_and_keeps_history(spark, events, tmp_path):
    """rollback_to(v) is a NEW metadata-only commit restoring v's
    content: current read == v1, the bad v2 stays time-travelable, no
    data file is written, and a later append builds on the restored
    state."""
    cold = events.filter(F.col("event_id") % 2 == 0)
    bad = events.filter(F.col("event_id") % 2 == 1).withColumn(
        "value", -F.col("value")
    )
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(cold, n_files=2)              # v1
    t.append(bad, n_files=2)               # v2
    n_data_files = len(os.listdir(os.path.join(t.path, "data")))
    v = t.rollback_to(1)                   # v3
    assert v == 3
    assert len(os.listdir(os.path.join(t.path, "data"))) == n_data_files
    assert t.read().count() == cold.count()
    assert t.read().filter(F.col("value") < 0).count() == \
        cold.filter(F.col("value") < 0).count()
    assert t.read(version=2).count() == events.count()  # audit intact
    t.append(bad.withColumn("value", -F.col("value")), n_files=1)  # v4
    assert t.read().count() == events.count()
    assert t._manifest(3)["files"] == t._manifest(1)["files"]


def test_changelog_replay_reproduces_final_state(spark, events, tmp_path):
    """THE changelog contract, end to end: for a randomized (seeded)
    sequence of commits — appends, re-inserts, equality MOR deletes,
    position deletes, deletion vectors, copy-on-write merges,
    compactions — replaying
    changelog(v1, vN) onto the v1 state must land EXACTLY read(vN).
    An incremental consumer is precisely this replay; any
    classification bug (the r9 ADVICE item) breaks it."""
    import random

    base_rows = [
        (r["event_id"], r["event_type"], r["value"])
        for r in events.filter(F.col("event_id") < 80)
        .select("event_id", "event_type", "value")
        .collect()
    ]
    schema = "event_id long, event_type string, value double"

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    # seed 3 draws DVs on both sides of a copy-on-write merge
    for seed in (7, 23, 3):
        rng = random.Random(seed)
        t = SnapshotTable(spark, str(tmp_path / f"t{seed}"))
        state = {k: (k, et, v) for k, et, v in base_rows}
        t.append(mk(list(state.values())), n_files=2)  # v1
        dead: set[int] = set()
        next_id = 1000
        for _ in range(6):
            op = rng.choice(["append", "reinsert", "del_eq", "del_pos",
                             "del_dv", "merge", "compact"])
            if op == "append":
                rows = [(next_id + i, "new", float(i)) for i in range(5)]
                next_id += 5
                t.append(mk(rows), n_files=1)
            elif op == "reinsert" and dead:
                ks = rng.sample(sorted(dead), min(3, len(dead)))
                rows = [(k, "revived", 9.9) for k in ks]
                dead -= set(ks)
                t.append(mk(rows), n_files=1)
            elif op == "del_eq":
                live = sorted(
                    r["event_id"] for r in t.read().select("event_id").collect()
                )
                ks = rng.sample(live, min(7, len(live)))
                dead |= set(ks)
                t.delete_where_mor(
                    mk([(k, "x", 0.0) for k in ks]).select("event_id"),
                    ["event_id"],
                )
            elif op == "del_pos":
                live = sorted(
                    r["event_id"] for r in t.read().select("event_id").collect()
                )
                ks = set(rng.sample(live, min(5, len(live))))
                dead |= ks
                t.delete_where_positional(
                    F.col("event_id").isin(*ks) if ks else F.lit(False)
                )
            elif op == "del_dv":
                live = sorted(
                    r["event_id"] for r in t.read().select("event_id").collect()
                )
                ks = set(rng.sample(live, min(5, len(live))))
                dead |= ks
                t.delete_where_dv(
                    F.col("event_id").isin(*ks) if ks else F.lit(False)
                )
            elif op == "merge":
                live = sorted(
                    r["event_id"] for r in t.read().select("event_id").collect()
                )
                ks = rng.sample(live, min(6, len(live)))
                rows = [(k, "merged", 7.7) for k in ks] + [
                    (next_id, "merged_new", 7.7)
                ]
                next_id += 1
                t.merge(mk(rows), keys=["event_id"], n_files=2)
            else:
                t.compact(target_files=rng.choice([1, 3]))

        v_to = t.current_version
        ch = t.changelog(1, v_to, keys=["event_id"]).collect()
        replay = {k: (k, et, v) for k, et, v in base_rows}
        for r in ch:
            if r["change_type"] in ("delete", "update_preimage"):
                replay.pop(r["event_id"], None)
        for r in ch:
            if r["change_type"] in ("insert", "update_postimage"):
                replay[r["event_id"]] = (
                    r["event_id"], r["event_type"], r["value"]
                )
        final = sorted(
            (r["event_id"], r["event_type"], r["value"])
            for r in t.read().select("event_id", "event_type", "value").collect()
        )
        assert final == sorted(replay.values()), (
            f"seed {seed}: replayed state diverges from read(v{v_to})"
        )


def test_branch_reinsert_after_main_delete_and_ref_protection(
    spark, events, tmp_path
):
    """Review findings, pinned: (1) a key deleted on main (equality
    tombstone) then re-appended ON A BRANCH must be visible to branch
    reads (branch files take seqs above the seed's tombstones) and stay
    visible after fast_forward; (2) re-tagging an existing name refuses;
    (3) expire_snapshots retains tag-pinned snapshots and live branch
    bases."""
    base = events.filter(F.col("event_id") < 50)
    doomed = base.filter(F.col("event_id") < 5).select("event_id")

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(base, n_files=2)                       # v1
    t.delete_where_mor(doomed, ["event_id"])        # v2 (tombstone seq 2)
    assert t.read().count() == 45
    t.create_branch("fix")                          # seeded from v2
    reins = base.filter(F.col("event_id") < 3)      # re-insert 3 dead keys
    t.append_to_branch("fix", reins, n_files=1)
    assert t.read_branch("fix").count() == 48, (
        "branch-appended rows must not be hidden by the seed's tombstone"
    )
    t.fast_forward("fix")                           # v3
    assert t.read().count() == 48                   # identical post-publish

    # tag immutability
    t.create_tag("pin")
    with pytest.raises(ValueError):
        t.create_tag("pin")

    # ref-protected expiry: tag v1, advance, expire — v1 must survive
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.append(base, n_files=1)                      # v1
    t2.create_tag("baseline", version=1)
    t2.append(events.filter(F.col("event_id") >= 50).limit(10), n_files=1)
    t2.append(events.filter(F.col("event_id") >= 60).limit(10), n_files=1)
    expired = t2.expire_snapshots(keep_last=1)
    assert 1 not in expired, "tag-pinned snapshot must survive expiry"
    assert t2.read_tag("baseline").count() == 50    # still readable
    assert t2.remove_orphan_files() == [] or all(
        True for _ in ()
    )  # GC never touches tag-referenced files (history keeps v1)
    assert t2.read_tag("baseline").count() == 50


def test_fast_forward_restamps_branch_files_with_the_publishing_version(
    spark, tmp_path
):
    """fast_forward gives every net-new branch file the new main version
    as its data sequence number and leaves main's files alone, so an
    equality delete committed on main afterwards reaches every row the
    branch published. Before, a branch of three appends published a file
    with seq base + 3 = 4 into main v2, and a delete at v3 (seq 3) missed
    its rows."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    keys = lambda *ks: spark.createDataFrame([(k,) for k in ks], "k long")  # noqa: E731
    t.append(keys(0, 1, 2, 3, 4), n_files=1)        # v1
    main_files = t._manifest(1)["files"]
    t.create_branch("b")
    for pair in ((10, 11), (20, 21), (30, 31)):
        t.append_to_branch("b", keys(*pair), n_files=1)
    assert t.fast_forward("b") == 2
    seqs = t._manifest(2)["file_seqs"]
    assert {seqs[f] for f in main_files} == {1}
    assert {s for f, s in seqs.items() if f not in main_files} == {2}
    t.delete_where_mor(keys(20, 30, 31), ["k"])     # v3, seq 3
    assert sorted(r["k"] for r in t.read().collect()) == [
        0, 1, 2, 3, 4, 10, 11, 21
    ]


def test_positional_delete_vs_concurrent_rewrite_conflict(
    spark, events, tmp_path
):
    """ADVICE r10: delete_where_positional resolves (file, pos) pairs
    against one manifest; if a compact() commits between resolution and
    the CAS commit, the tombstones reference files no longer in the
    manifest and every doomed row silently survives. Must raise
    CommitConflict (mirroring merge_mor's validation), not commit."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.filter(F.col("event_id") < 20), n_files=4)  # v1: 20 rows

    orig_try = t._try_commit
    state = {"raced": False}

    def racing_commit(version, files, op, **kw):
        # a concurrent compaction lands right before our first CAS attempt
        if not state["raced"] and op == "delete.pos":
            state["raced"] = True
            SnapshotTable(spark, t.path).compact(target_files=1)
        return orig_try(version, files, op, **kw)

    t._try_commit = racing_commit
    with pytest.raises(CommitConflict):
        t.delete_where_positional(F.col("event_id") < 6)
    assert state["raced"]
    # nothing committed: all 20 rows still live, no dangling tombstones
    t2 = SnapshotTable(spark, t.path)
    assert t2.read().count() == 20
    assert t2._manifest(t2.current_version).get("delete_files", []) == []
    # documented recovery: re-resolve against the new manifest and retry
    t2.delete_where_positional(F.col("event_id") < 6)
    assert t2.read().count() == 14


def test_branch_name_prefix_collision(spark, events, tmp_path):
    """ADVICE r10: branch 'rel' must not pick up files of branch 'rel-v2'
    (raw prefix scan parsed int('2-v1') → ValueError, broke
    branch_version/read_branch/refs)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.filter(F.col("event_id") < 10), n_files=2)
    t.create_branch("rel")
    t.create_branch("rel-v2")
    t.append_to_branch("rel-v2", events.filter(F.col("event_id") >= 90))
    assert t.branch_version("rel") == 1
    assert t.branch_version("rel-v2") == 2
    assert t.read_branch("rel").count() == 10
    names = {r["name"] for r in t.refs() if r["kind"] == "branch"}
    assert {"rel", "rel-v2"} <= names


def test_mv_emptied_partition_removed_despite_escaping(spark, tmp_path):
    """ADVICE r10: Spark percent-escapes special chars in partition dir
    names (e.g. ':' → '%3A'); the emptied-partition cleanup must compare
    UNESCAPED values, else a stale dir like k=a%3Ab survives."""
    state = {"dropped": None}

    def build(spark_, _sf):
        rows = [("a:b", 1), ("plain", 2)]
        if state["dropped"]:
            rows = [r for r in rows if r[0] != state["dropped"]]
        return spark_.createDataFrame(rows, "k string, n int")

    mv = MaterializedView("esc", build, str(tmp_path), partition_col="k")
    mv.refresh(spark, SF_DIR)
    escaped = [
        d for d in os.listdir(mv.path)
        if d.startswith("k=") and "%" in d
    ]
    assert escaped, "precondition: Spark escaped the ':' in the dir name"

    state["dropped"] = "a:b"
    mv.refresh_partitions(spark, SF_DIR, ["a:b"])
    assert not any(
        d.startswith("k=") and "%" in d for d in os.listdir(mv.path)
    ), "escaped-value partition dir must be removed once emptied"
    assert {str(r[0]) for r in mv.read(spark).select("k").collect()} == {
        "plain"
    }


def test_rewrite_manifests_metadata_only_and_planning_io(
    spark, events, tmp_path
):
    """Manifest compaction (Iceberg CALL system.rewrite_manifests): the
    micro-batch pathology (P:233-243) accrues one manifest per commit;
    rewrite coalesces them in a METADATA-ONLY commit — identical data
    files (byte-identical reads), planning GETs collapse."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(6):
        t.append(events.filter(F.col("event_id") % 6 == k), n_files=2)
    assert len(t.manifest_list()) == 6
    assert t.planning_gets() == 7
    files_before = sorted(t._manifest(t.current_version)["files"])
    mtimes = {
        f: os.path.getmtime(os.path.join(t.path, "data", f))
        for f in files_before
    }
    n_before = t.read().count()

    v = t.rewrite_manifests(target_manifests=1)
    assert v == 7
    assert sorted(t._manifest(v)["files"]) == files_before
    assert len(t.manifest_list()) == 1
    assert t.planning_gets() == 2
    # manifest entries still cover exactly the live files
    entries = sorted(t.manifest_entries(t._manifest(v)["manifests"][0]))
    assert entries == files_before
    assert t.read().count() == n_before
    for f, mt in mtimes.items():
        assert os.path.getmtime(os.path.join(t.path, "data", f)) == mt, (
            "rewrite_manifests must not touch data files"
        )
    # a later append adds ONE new manifest on top of the coalesced one
    t.append(events.limit(5), n_files=1)
    assert len(t.manifest_list()) == 2


def test_rewrite_manifests_rebases_over_concurrent_append(
    spark, events, tmp_path
):
    """A concurrent append landing mid-rewrite must not be lost: the CAS
    loop re-bases and the regrouped manifests include the new files."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.filter(F.col("event_id") < 30), n_files=3)
    t.append(events.filter((F.col("event_id") >= 30) & (F.col("event_id") < 60)), n_files=3)

    orig_try = t._try_commit
    state = {"raced": False}

    def racing(version, files, op, **kw):
        if not state["raced"] and op == "rewrite_manifests":
            state["raced"] = True
            SnapshotTable(spark, t.path).append(
                events.filter(F.col("event_id") >= 60), n_files=2
            )
        return orig_try(version, files, op, **kw)

    t._try_commit = racing
    t.rewrite_manifests(target_manifests=1)
    assert state["raced"]
    t2 = SnapshotTable(spark, t.path)
    assert t2.read().count() == events.count(), "concurrent append kept"
    # the rewrite re-based: coalesced manifests cover ALL live files
    m = t2._manifest(t2.current_version)
    assert m["operation"] == "rewrite_manifests"
    covered = sorted(
        e for n in m["manifests"] for e in t2.manifest_entries(n)
    )
    assert covered == sorted(m["files"])


def test_manifest_gc_after_expiry(spark, events, tmp_path):
    """Manifest files of expired snapshots are orphans; GC removes them
    while every manifest referenced by a live snapshot survives."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for k in range(4):
        t.append(events.filter(F.col("event_id") % 4 == k), n_files=1)
    t.rewrite_manifests(target_manifests=1)
    mdir = os.path.join(t.path, "snapshots", "manifests")
    assert len(os.listdir(mdir)) == 5  # 4 per-append + 1 coalesced
    t.expire_snapshots(keep_last=1)
    removed = t.remove_orphan_files()
    assert any(r.startswith("manifests/") for r in removed)
    assert len(os.listdir(mdir)) == 1  # only the coalesced one is live
    assert t.read().count() == events.count()


def test_manifest_stats_pruning_exact_and_conservative(
    spark, events, tmp_path
):
    """plan_scan_manifests: footer-free planning — manifest-level skip is
    exact on time-ranged appends; entries without stats (schema-evolved
    file lacking the stats column) are read conservatively."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_col="ts")
    day = F.dayofmonth("ts")
    t.append(events.filter(day <= 10), n_files=2)
    t.append(events.filter((day > 10) & (day <= 20)), n_files=2)
    t.append(events.filter(day > 20), n_files=2)
    lo, hi = "2024-01-12T00:00:00+00:00", "2024-01-15T23:59:59+00:00"
    plan = t.plan_scan_manifests(lo, hi)
    assert plan["manifests_skipped"] == 2
    assert plan["skipped_by_summary"] == 2  # never even opened
    assert len(plan["files_read"]) == 2
    assert plan["planning_gets"] == 2  # list + the ONE surviving manifest
    assert plan["gets_without_summaries"] == 4  # list + 3 manifests
    assert plan["footer_path_gets"] == 7  # list + 6 files
    # exact agreement with the footer-walking planner
    import datetime as dt

    foot = t.plan_scan(
        {"ts": (dt.datetime.fromisoformat(lo), dt.datetime.fromisoformat(hi))}
    )
    assert set(foot["files_read"]) == set(plan["files_read"])

    # schema-evolved append WITHOUT the stats column: no stats recorded,
    # entry must be conservatively read whatever the window
    t.append(
        events.filter(day == 1).select("event_id", "user_id"), n_files=1
    )
    plan2 = t.plan_scan_manifests(lo, hi)
    assert len(plan2["files_read"]) == 3
    # the stats-less manifest has no summary -> it must be OPENED
    assert plan2["planning_gets"] == 3
    # rewrite carries stats: same plan, 2 GETs
    t.rewrite_manifests(target_manifests=1)
    plan3 = t.plan_scan_manifests(lo, hi)
    assert set(plan3["files_read"]) == set(plan2["files_read"])
    assert plan3["planning_gets"] == 2


def test_manifest_multicol_stats_and_persisted_config(
    spark, events, tmp_path
):
    """Multi-column manifest stats (r11 verdict task 2): a conjunctive
    {col: range} predicate prunes on BOTH dimensions with zero footer
    opens and equals the footer planner under the same predicates; and
    the stats config is PERSISTED (r11 ADVICE) — a second handle opened
    without it adopts the table's stats_cols, so its commits carry full
    stats and level-0 summary pruning keeps working."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), stats_cols=("ts", "user_id")
    )
    r = events.agg(
        F.min("user_id").alias("lo"), F.max("user_id").alias("hi")
    ).collect()[0]
    umin, split = int(r["lo"]), (int(r["lo"]) + int(r["hi"]) + 1) // 2
    day = F.dayofmonth("ts")
    lo_u = F.col("user_id") < split
    t.append(events.filter((day <= 15) & lo_u), n_files=2)
    t.append(events.filter((day <= 15) & ~lo_u), n_files=2)
    # the concurrent-writer pattern: NO stats config on this handle —
    # it must pick up ("ts", "user_id") from snapshots/table.json
    t2 = SnapshotTable(spark, str(tmp_path / "t"))
    assert t2.stats_cols == ("ts", "user_id")
    t2.append(events.filter((day > 15) & lo_u), n_files=2)
    t2.append(events.filter((day > 15) & ~lo_u), n_files=2)
    preds = {
        "ts": ("2024-01-02T00:00:00+00:00", "2024-01-04T23:59:59+00:00"),
        "user_id": (umin, split - 1),
    }
    plan = t.plan_scan_manifests(predicates=preds)
    # day window kills manifests 3/4 (t2's commits carried stats — the
    # persistence fix), user half kills manifest 2: all at level 0
    assert plan["manifests_skipped"] == 3
    assert plan["skipped_by_summary"] == 3
    assert plan["planning_gets"] == 2
    assert len(plan["files_read"]) == 2
    import datetime as dt

    foot = t.plan_scan(
        {
            "ts": tuple(dt.datetime.fromisoformat(b) for b in preds["ts"]),
            "user_id": preds["user_id"],
        }
    )
    assert set(plan["files_read"]) == set(foot["files_read"])
    # the pruned read returns exactly the predicate's rows
    row_pred = (
        (F.col("ts") >= F.lit("2024-01-02 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        & (F.col("user_id") < split)
    )
    got = t.read_files(plan["files_read"]).filter(row_pred).count()
    want = events.filter(row_pred).count()
    assert got == want


def test_rename_column_chained_and_metadata_only(spark, events, tmp_path):
    """Chained renames (device → dev2 → dev3) resolve through the whole
    alias history; files written under ANY generation's name surface
    under the final name; zero data files are touched by either rename;
    and a newer-name file wins the coalesce when (degenerate case) a
    file carries two generations of the column."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    dev = F.concat(F.lit("d"), (F.col("user_id") % 2).cast("string"))
    day = F.dayofmonth("ts")
    t.append(events.filter(day <= 10).withColumn("device", dev), n_files=2)
    t.rename_column("device", "dev2")
    t.append(
        events.filter((day > 10) & (day <= 20)).withColumn("dev2", dev),
        n_files=2,
    )
    before = sorted((f["file"], f["bytes"]) for f in t.files())
    t.rename_column("dev2", "dev3")
    assert sorted((f["file"], f["bytes"]) for f in t.files()) == before
    t.append(events.filter(day > 20).withColumn("dev3", dev), n_files=2)
    out = t.read()
    assert "device" not in out.columns and "dev2" not in out.columns
    assert out.filter(F.col("dev3").isNull()).count() == 0
    assert out.count() == events.count()
    got = {
        r["dev3"]: r["n"]
        for r in out.groupBy("dev3").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        r["d"]: r["n"]
        for r in events.select(dev.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_mv_join_incremental_delta_terms_nonempty(spark, events):
    """Fixture honesty for the delta-join maintenance entry: each of the
    three IVM delta terms (ΔA⋈B_old, A_old⋈ΔB, ΔA⋈ΔB) carries rows on
    the testdata — a term that is empty by construction would make the
    entry's 'incremental == full' pin vacuous for that algebra branch.
    (The equality pin itself is an in-entry assert; the driver oracle
    certifies the reported rollup.)"""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import (
        load,
    )

    orders = load(spark, SF_DIR, "orders")
    line = load(spark, SF_DIR, "lineitem")
    late_o = F.col("o_orderkey") % 7 == 0
    late_l = F.col("l_linenumber") >= 4
    t1 = orders.filter(late_o).join(
        line.filter(~late_l),
        orders["o_orderkey"] == line["l_orderkey"],
    )
    t2 = orders.filter(~late_o).join(
        line.filter(late_l),
        orders["o_orderkey"] == line["l_orderkey"],
    )
    t3 = orders.filter(late_o).join(
        line.filter(late_l),
        orders["o_orderkey"] == line["l_orderkey"],
    )
    assert t1.count() > 0 and t2.count() > 0 and t3.count() > 0


def test_hilbert_tighter_than_zorder(spark):
    """The Hilbert claim on the fixed testdata: with equal-row-count
    file boundaries, the Hilbert layout's summed per-file bounding-box
    area is strictly smaller than z-order's (no quadrant-seam jumps
    inside a file), and it never reads MORE files under any of the
    three predicate shapes; rows_selected (the correctness side) is
    identical per predicate regardless of layout."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        hilbert_clustering_report,
    )

    rows = hilbert_clustering_report(spark, SF_DIR).collect()
    by = {(r["layout"], r["predicate"]): r for r in rows}
    assert len(by) == 6
    z_bbox = by[("zordered", "user_band")]["bbox_area"]
    h_bbox = by[("hilbert", "user_band")]["bbox_area"]
    assert h_bbox < z_bbox, (h_bbox, z_bbox)
    for pred in ("user_band", "time_band", "user_and_time"):
        z, h = by[("zordered", pred)], by[("hilbert", pred)]
        assert h["files_read"] <= z["files_read"], pred
        assert h["rows_selected"] == z["rows_selected"], pred


def test_manifest_null_pruning_exact_and_conservative(
    spark, events, tmp_path
):
    """NULL-driven manifest pruning (r12 verdict task 8): IS NULL skips
    stats proving zero nulls (contains-null=false), IS NOT NULL skips
    stats proving all-null (contains-only-null, from the row count),
    a RANGE predicate skips provably all-NULL files,
    and both planners agree file-for-file."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("ts", "nv"))
    day = F.dayofmonth("ts")
    nv = F.when(day <= 10, F.col("value")).alias("nv")
    aug = events.select("event_id", "ts", "user_id", "value", nv)
    t.append(aug.filter(day <= 10), n_files=2)     # nv: zero nulls
    t.append(aug.filter((day > 10) & (day <= 20)), n_files=2)  # all-NULL
    t.append(aug.filter(day > 20), n_files=2)      # all-NULL

    pn = t.plan_scan_manifests(predicates={"nv": "is_null"})
    assert pn["manifests_skipped"] == 1  # the null-free first append
    assert pn["skipped_by_summary"] == 1
    assert len(pn["files_read"]) == 4
    assert set(pn["files_read"]) == set(
        t.plan_scan({"nv": "is_null"})["files_read"]
    )

    pnn = t.plan_scan_manifests(predicates={"nv": "IS NOT NULL"})
    assert pnn["manifests_skipped"] == 2  # both all-NULL appends
    assert pnn["skipped_by_summary"] == 2
    assert len(pnn["files_read"]) == 2
    assert set(pnn["files_read"]) == set(
        t.plan_scan({"nv": "is_not_null"})["files_read"]
    )
    # the pruned reads are exact: together they see every row once
    n_null = t.read_files(pn["files_read"]).filter(
        F.col("nv").isNull()
    ).count()
    n_nn = t.read_files(pnn["files_read"]).filter(
        F.col("nv").isNotNull()
    ).count()
    assert n_null + n_nn == events.count()

    # a RANGE predicate on nv prunes the all-NULL files exactly too
    pr = t.plan_scan_manifests(predicates={"nv": (-1e18, 1e18)})
    assert len(pr["files_read"]) == 2
    assert pr["skipped_by_summary"] == 2

    # malformed predicate strings fail clearly at the API edge
    with pytest.raises(ValueError, match="unknown predicate"):
        t.plan_scan_manifests(predicates={"nv": "is_weird"})


def test_manifest_boundsless_unknown_stats_conservative(
    spark, events, tmp_path
):
    """A bounds-less stat is an exact range skip ONLY under the full
    all-NULL proof ([None, None, n, n] with n > 0); with the null count
    or the row count unknown it must be READ — the r13-advice hazard
    where any bounds-less shape was treated as provably all-NULL."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_cols=("ts", "nv"))
    day = F.dayofmonth("ts")
    nv = F.when(day <= 10, F.col("value")).alias("nv")
    aug = events.select("event_id", "ts", "user_id", "value", nv)
    t.append(aug.filter(day <= 10), n_files=2)  # nv: real bounds
    t.append(aug.filter((day > 10) & (day <= 20)), n_files=2)  # all-NULL
    t.append(aug.filter(day > 20), n_files=2)  # all-NULL

    # intact table: both all-NULL appends prune under a range predicate
    pr = t.plan_scan_manifests(predicates={"nv": (-1e18, 1e18)})
    assert len(pr["files_read"]) == 2

    # the pruning rule: bounds-less stats prove a skip only with a known
    # null count equal to a known, nonzero row count
    from awscommunityday_2025_iceberg_snowfalke_spark import snaplog

    assert not snaplog.may_match([None, None, 4, 4], ">=", 0)
    assert not snaplog.may_match([None, None, 4, 4], "not_null")
    for unknown in ([None, None, None, 4], [None, None, 4, None], [None] * 4):
        assert snaplog.may_match(unknown, ">=", 0)
        assert snaplog.may_match(unknown, "not_null")
    assert snaplog.may_match([None, None, 0, 0], "not_null")  # zero rows


def test_rename_back_and_collision_guard(spark, events, tmp_path):
    """Rename BACK (device → dev2 → device): the target name must not
    enter its own alias history, or the scan-time coalesce drops the
    just-renamed column (the r13-advice bug). Files written under either
    generation's name surface under the final name; renaming another
    column onto a live rename target is rejected."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    dev = F.concat(F.lit("d"), (F.col("user_id") % 2).cast("string"))
    day = F.dayofmonth("ts")
    t.append(events.filter(day <= 15).withColumn("device", dev), n_files=2)
    t.rename_column("device", "dev2")
    t.append(events.filter(day > 15).withColumn("dev2", dev), n_files=2)
    t.rename_column("dev2", "device")  # rename back
    out = t.read()
    assert "device" in out.columns and "dev2" not in out.columns
    assert out.filter(F.col("device").isNull()).count() == 0
    assert out.count() == events.count()
    with pytest.raises(ValueError, match="live renamed column"):
        t.rename_column("value", "device")


def test_deletion_vector_merge_and_conflicts(spark, events, tmp_path):
    """Iceberg v3 deletion vectors: one vector per data file (second
    wave MERGES, never stacks), reads exclude both waves, a concurrent
    vector write on the same file raises CommitConflict (our merged
    vector is stale), and compact materializes + clears."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        CommitConflict,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=4)
    n_all = events.count()
    n_err = events.filter(F.col("event_type") == "error").count()
    n_clk = events.filter(F.col("event_type") == "click").count()

    t.delete_where_dv(F.col("event_type") == "error")
    v1 = {d["target"]: d["positions"] for d in t.delete_vectors()}
    assert t.read().count() == n_all - n_err

    t.delete_where_dv(F.col("event_type") == "click")
    vecs = t.delete_vectors()
    v2 = {d["target"]: d["positions"] for d in vecs}
    # invariant: one vector per touched file, cardinalities MERGED
    assert len(vecs) == len(v2)
    for tgt, n in v1.items():
        assert v2[tgt] >= n, "merge must carry the previous positions"
    assert sum(v2.values()) == n_err + n_clk
    assert t.read().count() == n_all - n_err - n_clk

    # concurrent DV write on the same files: stale merged vector must
    # conflict, not silently drop the other writer's deletes
    orig_try = t._try_commit
    state = {"raced": False}

    def racing(version, files, op, **kw):
        if not state["raced"] and op == "delete.dv":
            state["raced"] = True
            SnapshotTable(spark, t.path).delete_where_dv(
                F.col("event_type") == "view"
            )
        return orig_try(version, files, op, **kw)

    t._try_commit = racing
    with pytest.raises(CommitConflict):
        t.delete_where_dv(F.col("event_type") == "purchase")
    assert state["raced"]
    t2 = SnapshotTable(spark, t.path)
    n_view = events.filter(F.col("event_type") == "view").count()
    assert t2.read().count() == n_all - n_err - n_clk - n_view
    # documented recovery: re-run against the current state
    t2.delete_where_dv(F.col("event_type") == "purchase")
    n_pur = events.filter(F.col("event_type") == "purchase").count()
    assert t2.read().count() == n_all - n_err - n_clk - n_view - n_pur

    t2.compact(target_files=1)
    assert t2.delete_vectors() == []
    assert t2.read().count() == n_all - n_err - n_clk - n_view - n_pur


def test_positional_tombstones_cost_constant_jobs(spark, events, tmp_path):
    """Merge-on-read job counts do not grow with the tombstones: a read
    applies every position delete / deletion vector in one anti-join, so
    a snapshot carrying 8 positional tombstone files reads with the same
    jobs as one carrying 1; a deletion-vector commit writes all vectors
    in one partitioned write, so touching 1 data file costs the same
    jobs as touching all of them."""
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    one = SnapshotTable(spark, str(tmp_path / "one"))
    one.append(events, n_files=4)
    one.delete_where_positional(F.col("event_id") == ids[0])
    many = SnapshotTable(spark, str(tmp_path / "many"))
    many.append(events, n_files=4)
    for k in ids[:8]:
        many.delete_where_positional(F.col("event_id") == k)
    n_tomb = len(many._manifest(many.current_version)["delete_files"])
    assert n_tomb == 8
    rows_one = jobs_of(spark, lambda: one.read().collect())
    rows_many = jobs_of(spark, lambda: many.read().collect())
    assert rows_one == rows_many, (rows_one, rows_many)
    assert many.read().count() == events.count() - 8

    # both tables carry a previous vector on every file, so both commits
    # below take the merge-the-previous-vector path
    narrow = SnapshotTable(spark, str(tmp_path / "narrow"))
    wide = SnapshotTable(spark, str(tmp_path / "wide"))
    for t in (narrow, wide):
        t.append(events, n_files=4)
        t.delete_where_dv(F.col("event_type") == "error")
    n_files = len(narrow._manifest(narrow.current_version)["files"])
    k = max(
        r["event_id"]
        for r in events.filter(F.col("event_type") == "view")
        .select("event_id")
        .collect()
    )
    jobs_narrow = jobs_of(
        spark, lambda: narrow.delete_where_dv(F.col("event_id") == k)
    )
    jobs_wide = jobs_of(
        spark, lambda: wide.delete_where_dv(F.col("event_type") == "click")
    )
    touched = {d["target"] for d in wide.delete_vectors()}
    assert len(touched) == n_files > 1
    assert jobs_narrow == jobs_wide, (jobs_narrow, jobs_wide)


def test_equality_deletes_cost_constant_jobs(spark, events, tmp_path):
    """Equality deletes of one key-column set apply in one sequence-
    scoped anti-join: a snapshot carrying 5 equality-delete files reads
    with the same jobs as one carrying 1, and a key re-appended after
    its delete survives it while an older copy stays deleted."""
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    keys = lambda ks: spark.createDataFrame([(k,) for k in ks], "event_id long")  # noqa: E731
    one = SnapshotTable(spark, str(tmp_path / "one"))
    one.append(events, n_files=4)
    one.delete_where_mor(keys(ids[:5]), ["event_id"])
    many = SnapshotTable(spark, str(tmp_path / "many"))
    many.append(events, n_files=4)
    for k in ids[:5]:
        many.append(events.filter(F.col("event_id") == k), n_files=1)
        many.delete_where_mor(keys([k]), ["event_id"])
    many.append(events.filter(F.col("event_id") == ids[0]), n_files=1)
    eq = many._manifest(many.current_version)["delete_files"]
    assert len(eq) == 5 and len({d["seq"] for d in eq}) == 5
    jobs_one = jobs_of(spark, lambda: one.read().collect())
    jobs_many = jobs_of(spark, lambda: many.read().collect())
    assert jobs_one == jobs_many, (jobs_one, jobs_many)
    assert one.read().count() == events.count() - 5
    got = many.read().filter(F.col("event_id").isin(ids[:5])).collect()
    assert [r["event_id"] for r in got] == [ids[0]]


@pytest.mark.parametrize("first", ["equality", "positional"])
def test_changelog_emits_one_delete_per_row_deleted_twice(spark, tmp_path, first):
    """A row deleted twice inside one changelog interval — by two
    equality deletes, or by a positional delete and then an equality
    delete of its key — is deleted once, so the changelog emits one
    ``delete`` row for it, not one per tombstone set that hit it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id AS k", "id * 10 AS v"), n_files=1)
    if first == "equality":
        t.delete_where_mor(spark.range(1).selectExpr("id AS k"), ["k"])
    else:
        t.delete_where_positional(F.col("k") == 0)
    t.delete_where_mor(spark.range(2).selectExpr("id AS k"), ["k"])
    rows = sorted(tuple(r) for r in t.changelog(1, 3, ["k"]).collect())
    assert rows == [("delete", 0, 0), ("delete", 1, 10)]


def test_delete_vectors_counts_in_constant_jobs(spark, events, tmp_path):
    """delete_vectors() counts every vector in one scan: the same jobs at
    one vector as at one per data file, with the right cardinalities."""
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    one = SnapshotTable(spark, str(tmp_path / "one"))
    wide = SnapshotTable(spark, str(tmp_path / "wide"))
    for t in (one, wide):
        t.append(events, n_files=4)
    one.delete_where_dv(F.col("event_id") == ids[0])
    wide.delete_where_dv(F.col("event_type") == "click")
    jobs_one = jobs_of(spark, one.delete_vectors)
    jobs_wide = jobs_of(spark, wide.delete_vectors)
    assert [d["positions"] for d in one.delete_vectors()] == [1]
    vecs = wide.delete_vectors()
    assert len(vecs) >= 3
    assert sum(d["positions"] for d in vecs) == (
        events.filter(F.col("event_type") == "click").count()
    )
    for d in vecs:
        assert d["positions"] == spark.read.parquet(
            os.path.join(wide.path, "data", d["vector"])
        ).count()
    assert jobs_one == jobs_wide, (jobs_one, jobs_wide)


def test_deletion_vector_layout_error_is_named(
    spark, events, tmp_path, monkeypatch
):
    """A vector write that leaves more than one file for a target data
    file raises the named error and commits nothing."""
    from pyspark.sql.readwriter import DataFrameWriter

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        DeletionVectorLayoutError,
    )

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events, n_files=1)
    orig = DataFrameWriter.option

    def one_record_per_file(self, key, value):
        return orig(self, key, 1 if key == "maxRecordsPerFile" else value)

    monkeypatch.setattr(DataFrameWriter, "option", one_record_per_file)
    with pytest.raises(DeletionVectorLayoutError):
        t.delete_where_dv(F.col("event_type") == "error")
    assert t.current_version == 1


def test_bloom_index_no_false_negatives_and_prunes(spark, events, tmp_path):
    """The Bloom planner's two contracts: (a) NEVER skips a file that
    contains the probed value (reading only planned files reproduces the
    full filter exactly, for every present user), and (b) actually prunes
    on a layout where min/max cannot (scrambled chunking — every file
    spans the id domain)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        _write_chunked,
    )

    t = SnapshotTable(spark, str(tmp_path / "bl"), stats_col="user_id")
    # scramble user_id into 6 chunks so footer min/max is useless
    chunked = events.select("event_id", "user_id").withColumn(
        "_c", (F.col("user_id") * F.lit(2654435761)) % F.lit(6)
    )
    _write_chunked(t, chunked)
    t.build_bloom_index("user_id")
    users = [r[0] for r in events.select("user_id").distinct().collect()]
    pruned_any = False
    for u in sorted(users)[:12]:
        plan = t.plan_scan_bloom("user_id", u)
        want = events.filter(F.col("user_id") == u).count()
        got = (
            t.read_files(plan["files_read"])
            .filter(F.col("user_id") == u)
            .count()
        )
        assert got == want, (u, got, want)
        # min/max never beats bloom on this layout (equal only at the
        # domain edges, where a chunk's min/max happens to bound the probe)
        mm = t.plan_scan({"user_id": (u, u)})
        assert len(mm["files_read"]) >= len(plan["files_read"])
        if len(mm["files_read"]) == plan["files_total"]:
            pruned_any = True  # interior probe: footer stats read it all
    # 150 users hashed into 6 files: each file holds most users, so some
    # probes may legitimately match all files — but an ABSENT id must
    # always prune everything (up to fp-rate, zero here by construction)
    absent = max(users) + 999_983
    assert len(t.plan_scan_bloom("user_id", absent)["files_read"]) == 0
    assert t.plan_scan_bloom("user_id", absent)["files_skipped"] == 6
    assert pruned_any  # some interior probe defeated footer stats


def test_bloom_report_story_and_determinism(spark):
    """The entry's headline on the scrambled-doc layout: interior probes
    read ALL files under min/max and ~1 under Bloom; absent probe reads
    none; zero false negatives (rows_found == files_with_row for unique
    ids); two runs (fresh table dirs) agree row-for-row."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        bloom_point_lookup_report,
    )

    a = bloom_point_lookup_report(spark, SF_DIR).collect()
    for r in a:
        assert r["bloom_files_read"] >= r["files_with_row"]  # no misses
        assert r["rows_found"] == r["files_with_row"]  # unique doc_id
        assert r["bloom_fp_files"] == r["bloom_files_read"] - r["files_with_row"]
    present = [r for r in a if r["rows_found"] > 0]
    # the two mid-domain probes (mx//3, 2mx//3): footer stats read it all,
    # the bloom reads a strict subset — the entry's whole point
    defeated = [
        r for r in present if r["minmax_files_read"] == r["files_total"]
    ]
    assert len(defeated) >= 2
    assert all(r["bloom_files_read"] < r["files_total"] for r in present)
    b = bloom_point_lookup_report(spark, SF_DIR).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_partition_spec_evolution_metadata_only(spark, events, tmp_path):
    """Spec evolution never touches data: every pre-evolution file's
    bytes and mtime are identical after the ALTER + second append; files
    keep the spec they were written under; a second handle (no explicit
    spec) adopts the latest committed spec from the manifest."""
    t = SnapshotTable(spark, str(tmp_path / "pe"), stats_col="ts")
    assert t.partition_spec == "unpartitioned"
    t.append(events.filter(F.col("event_id") % 2 == 0), n_files=3)
    g1 = t.files_for_spec("unpartitioned")
    assert len(g1) == 3
    stats_before = {
        f: (os.path.getsize(p), os.path.getmtime(p))
        for f in g1
        for p in [os.path.join(t.path, "data", f)]
    }
    t.evolve_partition_spec("day_bucket")
    t.append(events.filter(F.col("event_id") % 2 == 1), n_files=2)
    # old generation: untouched bytes, unchanged spec assignment
    for f, (sz, mt) in stats_before.items():
        p = os.path.join(t.path, "data", f)
        assert (os.path.getsize(p), os.path.getmtime(p)) == (sz, mt)
    assert t.files_for_spec("unpartitioned") == g1
    assert len(t.files_for_spec("day_bucket")) == 2
    # a fresh handle adopts the committed spec (metadata.json role)
    t2 = SnapshotTable(spark, t.path)
    assert t2.partition_spec == "day_bucket"
    assert t2.files_for_spec("day_bucket") == t.files_for_spec("day_bucket")
    # the full read still sees every row across both generations
    assert t.read().count() == events.count()


def test_spec_evolution_report_prunes_new_generation_only(spark):
    """The report's headline: the pre-evolution (user-bucketed)
    generation cannot prune a time predicate (reads all files), the
    evolved day-bucketed generation skips most, and the two generations'
    pruned-read rows sum to the plain filter count."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        _PE_HI,
        _PE_LO,
        spec_evolution_skipping_report,
    )
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    rows = {r["generation"]: r for r in
            spec_evolution_skipping_report(spark, SF_DIR).collect()}
    g1, g2 = rows[1], rows[2]
    assert g1["spec"] == "user_bucket4" and g2["spec"] == "day_bucket4"
    assert g1["files_read"] == g1["files_total"]  # old layout: no pruning
    assert g2["files_skipped"] > 0  # evolved layout prunes
    ev = load(spark, SF_DIR, "events")
    want = ev.filter(
        (F.col("ts") >= F.lit(_PE_LO).cast("timestamp"))
        & (F.col("ts") <= F.lit(_PE_HI).cast("timestamp"))
    ).count()
    assert g1["rows_selected"] + g2["rows_selected"] == want


def test_type_widening_metadata_only_and_read(spark, events, tmp_path):
    """Type promotion is metadata-only (old int32 files byte-identical),
    the merged read returns every generation under the widened type with
    exact values, narrowing is rejected, and a fresh handle adopts the
    widening from disk."""
    t = SnapshotTable(spark, str(tmp_path / "w"))
    g1 = events.filter(F.col("event_id") % 2 == 0).select(
        "event_id", F.col("user_id").cast("int").alias("amount")
    )
    t.append(g1, n_files=2)
    old = {
        f["file"]: (
            os.path.getsize(os.path.join(t.path, "data", f["file"])),
            os.path.getmtime(os.path.join(t.path, "data", f["file"])),
        )
        for f in t.files()
    }
    t.widen_column_type("amount", "bigint")
    big = 2_200_000_000
    t.append(
        events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", (F.lit(big) + F.col("user_id")).alias("amount")
        ),
        n_files=2,
    )
    for f, (sz, mt) in old.items():
        p = os.path.join(t.path, "data", f)
        assert (os.path.getsize(p), os.path.getmtime(p)) == (sz, mt)
    df = t.read()
    assert dict(df.dtypes)["amount"] == "bigint"
    assert df.count() == events.count()
    assert df.filter(F.col("amount") >= big).count() == events.filter(
        F.col("event_id") % 2 == 1
    ).count()
    with pytest.raises(ValueError):
        t.widen_column_type("amount", "int")
    # promote again: bigint -> double; narrowing back is rejected
    t.widen_column_type("amount", "double")
    assert dict(t.read().dtypes)["amount"] == "double"
    with pytest.raises(ValueError):
        t.widen_column_type("amount", "bigint")
    t2 = SnapshotTable(spark, t.path)
    assert dict(t2.read().dtypes)["amount"] == "double"


def test_type_widening_composes_with_mor_deletes(spark, events, tmp_path):
    """The widened read funnel must keep working under merge-on-read:
    grouped-by-physical-type scans carry the _metadata provenance
    per group, so equality tombstones still apply across generations."""
    t = SnapshotTable(spark, str(tmp_path / "wm"))
    t.append(
        events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type",
            F.col("user_id").cast("int").alias("amount"),
        ),
        n_files=2,
    )
    t.widen_column_type("amount", "bigint")
    t.append(
        events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type",
            (F.lit(2_200_000_000) + F.col("user_id")).alias("amount"),
        ),
        n_files=2,
    )
    keys = t.read().filter(F.col("event_type") == "error").select("event_type").distinct()
    t.delete_where_mor(keys, ["event_type"])
    got = t.read()
    assert dict(got.dtypes)["amount"] == "bigint"
    want = events.filter(F.col("event_type") != "error").count()
    assert got.count() == want
    assert got.filter(F.col("event_type") == "error").count() == 0


def test_column_default_initial_only_not_coalesce(spark, events, tmp_path):
    """The v3 initial-default contract: pre-add rows read the default,
    post-add rows keep what they wrote — INCLUDING genuine NULLs (the
    case a coalesce-over-merged-scan would silently destroy). Metadata
    only: pre-add files byte-identical after the ADD COLUMN."""
    t = SnapshotTable(spark, str(tmp_path / "cd"))
    g1 = events.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    t.append(g1, n_files=2)
    old = {
        f["file"]: os.path.getsize(os.path.join(t.path, "data", f["file"]))
        for f in t.files()
    }
    t.add_column_default("tier", "string", "standard")
    tier = F.when(F.col("user_id") % 4 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("explicit")
    )
    g2 = events.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", tier.alias("tier")
    )
    t.append(g2, n_files=2)
    for f, sz in old.items():
        assert os.path.getsize(os.path.join(t.path, "data", f)) == sz
    df = t.read()
    # every gen-1 row reads the default
    assert df.filter(
        (F.col("event_id") % 2 == 0) & (F.col("tier") == "standard")
    ).count() == g1.count()
    # gen-2 genuine NULLs survive (NOT coalesced to the default)
    want_null = g2.filter(F.col("tier").isNull()).count()
    assert want_null > 0
    got_null = df.filter(
        (F.col("event_id") % 2 == 1) & F.col("tier").isNull()
    ).count()
    assert got_null == want_null
    assert df.filter(
        (F.col("event_id") % 2 == 1) & (F.col("tier") == "standard")
    ).count() == 0


def test_row_lineage_stability_and_uniqueness(spark, events, tmp_path):
    """The v3 lineage contracts: ids are unique and dense after appends
    (0..n-1), derived purely from metadata (no _row_id column in
    append-born files), and PRESERVED exactly — as a set, per row — by a
    rewrite (which is the only writer that materializes them)."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "rl"))
    t.enable_row_lineage()
    ev = events.select("event_id", "event_type")
    t.append(
        ev.filter(F.col("event_id") % 2 == 0)
        .repartition(1)
        .sortWithinPartitions("event_id"),
        n_files=None,
    )
    t.append(
        ev.filter(F.col("event_id") % 2 == 1)
        .repartition(1)
        .sortWithinPartitions("event_id"),
        n_files=None,
    )
    n = ev.count()
    # append-born files carry NO physical _row_id column
    for f in t.files():
        md = pq.ParquetFile(os.path.join(t.path, "data", f["file"])).metadata
        assert "_row_id" not in md.schema.names
    pre = t.read_lineage().select("event_id", "_row_id").collect()
    ids = sorted(r["_row_id"] for r in pre)
    assert ids == list(range(n))  # dense, unique
    by_event = {r["event_id"]: r["_row_id"] for r in pre}
    v = t.rewrite_preserving_lineage(target_files=3)
    assert t.current_version == v
    # rewritten files DO carry the materialized column
    for f in t.files():
        md = pq.ParquetFile(os.path.join(t.path, "data", f["file"])).metadata
        assert "_row_id" in md.schema.names
    post = t.read_lineage().select("event_id", "_row_id").collect()
    assert {r["event_id"]: r["_row_id"] for r in post} == by_event
    # appends after the rewrite continue the id sequence, no collisions
    t.append(
        ev.limit(10).repartition(1).sortWithinPartitions("event_id"),
        n_files=None,
    )
    final = [r["_row_id"] for r in t.read_lineage().collect()]
    assert len(final) == len(set(final)) == n + 10
    assert max(final) == n + 9


def test_ndv_stats_snapshot_pinned(spark, events, tmp_path):
    """ANALYZE writes stats keyed to the CURRENT snapshot: estimates are
    within the ±5% contract, a later append does not silently mutate the
    old stats file, and reading stats for an un-analyzed snapshot raises
    (never returns stale numbers)."""
    t = SnapshotTable(spark, str(tmp_path / "ndv"))
    t.append(events.select("event_id", "user_id"), n_files=2)
    st = t.write_column_stats(["event_id", "user_id"])
    exact_users = events.select("user_id").distinct().count()
    exact_events = events.select("event_id").distinct().count()
    assert abs(st["ndv"]["user_id"] - exact_users) * 20 <= exact_users
    assert abs(st["ndv"]["event_id"] - exact_events) * 20 <= exact_events
    assert st["rows"] == events.count()
    v1 = t.current_version
    t.append(events.select("event_id", "user_id").limit(5), n_files=1)
    # v1 stats unchanged on disk; v2 has none until ANALYZE runs again
    assert t.column_stats(version=v1) == st
    with pytest.raises(FileNotFoundError):
        t.column_stats()


def test_partitions_metadata_report_is_metadata_consistent(spark):
    """The `.partitions` report's internal identities: per-day file
    count matches the parity construction (1 or 2, == distinct parities
    present that day), row_count conserves the corpus, and the value
    bounds bracket every partition's rows. The cross-engine value check
    is the oracle's job; this pins the manifest-side derivation."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        partitions_metadata_report,
    )

    ev = load(spark, SF_DIR, "events")
    rep = {
        r["partition_day"]: r
        for r in partitions_metadata_report(spark, SF_DIR).collect()
    }
    want = {
        str(r["d"]): (r["nf"], r["n"])
        for r in ev.selectExpr(
            "CAST(ts AS DATE) AS d", "pmod(user_id, 2) AS p"
        )
        .groupBy("d")
        .agg(
            F.countDistinct("p").alias("nf"), F.count(F.lit(1)).alias("n")
        )
        .collect()
    }
    assert set(rep) == set(want)
    for day, (nf, n) in want.items():
        assert rep[day]["n_files"] == nf
        assert rep[day]["row_count"] == n
        assert rep[day]["value_min"] <= rep[day]["value_max"]
    assert sum(r["row_count"] for r in rep.values()) == ev.count()


def test_snapshots_summary_diff_identities(spark):
    """`.snapshots` summary invariants: file-count bookkeeping closes
    (n_files = prev + added − removed), totals are monotone through the
    appends, and the compact row is a pure rewrite (added_rows ==
    removed_rows == total_rows, file count collapses)."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import (
        snapshots_summary_report,
    )

    rows = snapshots_summary_report(spark, SF_DIR).collect()
    assert [r["operation"] for r in rows] == ["append"] * 3 + ["compact"]
    prev_files, prev_total = 0, 0
    for r in rows:
        assert r["n_files"] == prev_files + r["added_files"] - r["removed_files"]
        if r["operation"] == "append":
            assert r["removed_files"] == 0 and r["removed_rows"] == 0
            assert r["total_rows"] == prev_total + r["added_rows"]
        prev_files, prev_total = r["n_files"], r["total_rows"]
    last = rows[-1]
    assert last["added_rows"] == last["removed_rows"] == last["total_rows"]
    assert last["n_files"] == 1


_EMPTY_TABLE_CALLS = {
    "read": lambda t, df: t.read(),
    "merge": lambda t, df: t.merge(df, ["event_id"]),
    "merge_mor": lambda t, df: t.merge_mor(df, ["event_id"]),
    "delete_where_positional": lambda t, df: t.delete_where_positional(
        F.col("event_id") < 3
    ),
    "delete_where_dv": lambda t, df: t.delete_where_dv(F.col("event_id") < 3),
    "compact": lambda t, df: t.compact(),
}


@pytest.mark.parametrize("call", sorted(_EMPTY_TABLE_CALLS))
def test_uncommitted_table_raises_empty_table(spark, events, tmp_path, call):
    """Reads and rewrites of a table with no commit yet raise the named
    ``empty table`` error before writing any file."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="empty table"):
        _EMPTY_TABLE_CALLS[call](t, events.limit(5))
    assert t.current_version == 0
    assert [f for _, _, fs in os.walk(t.path) for f in fs] == []


@pytest.mark.parametrize(
    "name, commit",
    [
        ("append", lambda t, df: t.append(df)),
        ("overwrite", lambda t, df: t.overwrite(df)),
        ("rollback_to", lambda t, df: t.rollback_to(1)),
        ("rewrite_manifests", lambda t, df: t.rewrite_manifests()),
    ],
)
def test_commit_retries_exhausted_names_operation(
    spark, events, tmp_path, name, commit
):
    """A commit that loses every CAS attempt gives up with a RuntimeError
    naming the operation, and commits nothing."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.limit(10), n_files=1)
    t._try_commit = lambda version, files, operation, **kw: False
    with pytest.raises(RuntimeError, match=f"{name}: commit retries exhausted"):
        commit(t, events.limit(5))
    assert t.current_version == 1


def test_overwrite_replaces_rows_and_tombstones(spark, events, tmp_path):
    """overwrite() after a merge-on-read delete leaves exactly the new
    rows, carries no delete files, and records an ``overwrite`` commit."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(events.filter(F.col("event_id") < 20), n_files=2)
    t.delete_where_mor(
        events.filter(F.col("event_id") < 5).select("event_id"), ["event_id"]
    )
    new = events.filter(F.col("event_id").between(5, 9))
    v = t.overwrite(new, n_files=1)
    assert v == 3
    m = t._manifest(v)
    assert m["delete_files"] == []
    assert t.history()[-1]["operation"] == "overwrite"
    assert sorted(r["event_id"] for r in t.read().collect()) == list(range(5, 10))


def test_time_travel_to_version_zero_is_the_empty_table(spark, tmp_path):
    """Version 0 names the empty table, not the head: ``read`` raises the
    named ``empty table`` error and the listing calls return nothing. A
    version the log does not hold raises a ValueError naming it."""
    t = SnapshotTable(spark, str(tmp_path / "t"), stats_col="k")
    for lo, hi in ((0, 20), (20, 50), (50, 70)):
        t.append(spark.range(lo, hi).withColumnRenamed("id", "k"), n_files=1)
    assert t.read().count() == 70
    with pytest.raises(ValueError, match="empty table"):
        t.read(version=0)
    with pytest.raises(ValueError, match="empty table"):
        t.read_lineage(version=0)
    assert t.files(version=0) == []
    assert t.files_for_spec("unpartitioned", version=0) == []
    assert t.manifest_list(version=0) == []
    assert t.delete_vectors(version=0) == []
    assert t.plan_scan_manifests(0, 10**9, version=0)["files_read"] == []
    assert t.read(version=1).count() == 20
    with pytest.raises(ValueError, match="v9"):
        t.read(version=9)
    with pytest.raises(ValueError, match="v9"):
        t.files(version=9)


def test_manifest_plan_covers_files_of_a_snapshot_writer_commit(spark, tmp_path):
    """A ``format("snapshot")`` commit writes no manifest. The next
    SnapshotTable commit lists every live file that no carried manifest
    covers, so a full-range manifest plan reads all five files; planning
    the writer's own snapshot raises instead of planning a partial set."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    pyds.register(spark)
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, stats_col="k")
    t.append(spark.range(0, 40).withColumnRenamed("id", "k"), n_files=2)
    spark.range(40, 60, numPartitions=1).withColumnRenamed(
        "id", "k"
    ).write.format("snapshot").option("path", path).mode("append").save()
    t = SnapshotTable(spark, path)
    with pytest.raises(ValueError, match="no manifests record"):
        t.plan_scan_manifests(0, 100)
    t.append(spark.range(60, 70).withColumnRenamed("id", "k"), n_files=2)
    live = t.files()
    assert len(live) == 5
    assert t.read().count() == 70
    plan = t.plan_scan_manifests(0, 100)
    assert sorted(plan["files_read"]) == sorted(f["file"] for f in live)
    covered = {e for m in t.manifest_list() for e in t.manifest_entries(m["manifest"])}
    assert covered == {f["file"] for f in live}


def _build_shape(spark, t, shape):
    """Two commits of 40 rows each (``k`` unique, ``v`` int) with one
    schema change or tombstone kind between or after them."""
    v = (F.col("id") % 7).cast("int")
    t.append(spark.range(0, 40).select(F.col("id").alias("k"), v.alias("v")), n_files=2)
    later = spark.range(40, 80).select(F.col("id").alias("k"), v.alias("v"))
    if shape == "added":
        later = later.withColumn("extra", F.col("k").cast("string"))
    elif shape == "widened":
        t.widen_column_type("v", "bigint")
        later = later.withColumn("v", F.col("v") + F.lit(3_000_000_000))
    elif shape == "defaulted":
        t.add_column_default("tier", "string", "std")
        later = later.withColumn("tier", F.when(F.col("k") % 2 == 0, "x"))
    elif shape == "renamed":
        t.rename_column("v", "v2")
        later = later.withColumnRenamed("v", "v2")
    t.append(later, n_files=2)
    if shape == "dv":
        t.delete_where_dv(F.col("k") < 10)
    elif shape == "equality":
        t.delete_where_mor(spark.range(5).withColumnRenamed("id", "k"), ["k"])


def _footer_opens(monkeypatch) -> list:
    """Count every pyarrow data-file footer open from here on."""
    import pyarrow.parquet as pq

    opened = []
    for name in ("ParquetFile", "read_metadata", "read_schema"):
        real = getattr(pq, name)

        def counted(*a, _real=real, _name=name, **kw):
            opened.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(pq, name, counted)
    return opened


_SHAPES = ["plain", "added", "widened", "defaulted", "renamed", "dv", "equality"]


@pytest.mark.parametrize("shape", _SHAPES)
def test_table_reads_take_the_footer_schema_without_a_job(
    spark, tmp_path, monkeypatch, shape
):
    """Building a read runs no Spark job and opens no data-file footer:
    the scan schema, and that of every equality-delete key file, comes
    from the snapshot log. The table's file scan under it equals an
    explicit ``mergeSchema`` read of the same files wherever Spark can
    merge them (the widened table's int and bigint generations it
    refuses); the defaulted table's pre-add rows read the initial
    default where the merged read has NULL."""
    t = SnapshotTable(spark, str(tmp_path / shape))
    _build_shape(spark, t, shape)
    m = t._manifest(t.current_version)
    opened = _footer_opens(monkeypatch)

    def reads():
        return [t.read(), t._read_scoped(m, m["files"], keep_meta=True)]

    assert jobs_of(spark, reads) == 0
    assert opened == []
    monkeypatch.undo()

    scan = t._read_paths(m, m["files"])
    paths = [os.path.join(t.path, "data", f) for f in m["files"]]
    if shape == "widened":
        with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
            spark.read.option("mergeSchema", "true").parquet(*paths)
        return
    merged = spark.read.option("mergeSchema", "true").parquet(*paths)
    merged = merged.select(*scan.columns)
    if shape == "defaulted":
        merged = merged.withColumn(
            "tier", F.when(F.col("k") < 40, "std").otherwise(F.col("tier"))
        )
    assert scan.schema == merged.schema
    assert sorted(scan.collect()) == sorted(merged.collect())


def test_reads_fall_back_to_inference_without_a_spark_schema(spark, tmp_path):
    """A file written by pyarrow is adopted under the schema one inference
    at ``ingest_files`` gives it (at most one job), and the read costs
    none. A generation narrower along the widening lattice (int into a
    bigint table) commits and reads as the table type; a wider one
    (bigint into an int table) is refused at commit, naming the column
    and both types, and commits nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(0, 10).withColumnRenamed("id", "k"), n_files=1)
    src = str(tmp_path / "pa.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(10, 15), pa.int64()), "note": ["x"] * 5}),
        src,
    )
    assert jobs_of(spark, lambda: t.ingest_files([src])) <= 1
    assert jobs_of(spark, t.read) == 0
    df = t.read()
    assert df.columns == ["k", "note"]
    assert sorted(r["k"] for r in df.collect()) == list(range(15))
    assert df.filter(F.col("note") == "x").count() == 5

    w = SnapshotTable(spark, str(tmp_path / "w"))
    w.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    w.append(spark.range(3, 6).select(F.col("id").cast("int").alias("k")), n_files=1)
    assert dict(w.read().dtypes)["k"] == "bigint"
    assert sorted(r["k"] for r in w.read().collect()) == list(range(6))

    c = SnapshotTable(spark, str(tmp_path / "c"))
    c.append(spark.range(3).select(F.col("id").cast("int").alias("k")), n_files=1)
    with pytest.raises(ValueError, match="'k' is written as \"long\".*\"integer\""):
        c.append(spark.range(3).withColumnRenamed("id", "k"), n_files=1)
    assert c.current_version == 1
    assert os.listdir(os.path.join(c.path, "snapshots", "manifests")) == [
        n for n in c._manifest(1)["manifests"]
    ]


def test_a_manifest_without_a_schema_record_is_refused(spark, tmp_path):
    """A snapshot whose manifest holds files but no schema record is
    refused by name on both faces; no reader falls back to the footers."""
    import json

    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(5).withColumnRenamed("id", "k"), n_files=1)
    path = os.path.join(t.path, "snapshots", "v1.json")
    with open(path) as fh:
        doc = json.load(fh)
    for key in ("schemas", "schema_id", "file_schemas"):
        del doc[key]
    with open(path, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(ValueError, match="snapshot v1 of .* has no schema record"):
        t.read()
    pyds.register(spark)
    with pytest.raises(Exception, match="has no schema record"):
        spark.read.format("snapshot").option("path", t.path).load()


def test_read_files_and_bloom_index_read_under_the_log_schema(spark, tmp_path):
    """The pruned scan and the Bloom index build read the table's files
    under the recorded schema, the widened type and the added column
    included: building ``read_files`` runs no job."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.range(20).select(F.col("id").cast("int").alias("k")), n_files=2)
    t.widen_column_type("k", "bigint")
    t.append(
        spark.range(20, 40).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("s")
        ),
        n_files=2,
    )
    files = [f["file"] for f in t.files()]
    assert jobs_of(spark, lambda: t.read_files(files)) == 0
    df = t.read_files(files)
    assert df.dtypes == [("k", "bigint"), ("s", "string")]
    assert sorted(r["k"] for r in df.collect()) == list(range(40))
    t.build_bloom_index("k")
    hit = t.plan_scan_bloom("k", 25)["files_read"]
    assert t.read_files(hit).filter(F.col("k") == 25).count() == 1


@pytest.mark.parametrize("shape", ["ntz_added", "widened", "defaulted"])
def test_both_table_faces_read_the_same_schema(spark, tmp_path, shape):
    """``format("snapshot")`` and ``SnapshotTable.read`` read one table
    under one schema: a TIMESTAMP_NTZ table with an added column, a
    column widened int -> bigint (``widen_column_type`` reaches the
    source too) and a column added with an initial default give the same
    dtypes and rows on both faces."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources import pyds

    t = SnapshotTable(spark, str(tmp_path / shape))

    def rows(lo, hi):
        ts = F.expr("to_timestamp_ntz('2024-01-01') + make_interval(0, 0, 0, 0, id)")
        return spark.range(lo, hi).select(
            "id", ts.alias("ts"), F.col("id").cast("int").alias("v")
        )

    t.append(rows(0, 10), n_files=2)
    later = rows(10, 20)
    if shape == "ntz_added":
        later = later.withColumn("extra", F.col("id").cast("string"))
    elif shape == "widened":
        t.widen_column_type("v", "bigint")
        later = later.withColumn("v", F.col("v") + F.lit(3_000_000_000))
    else:
        t.add_column_default("tier", "string", "std")
        later = later.withColumn("tier", F.when(F.col("id") % 2 == 0, "x"))
    t.append(later, n_files=2)

    pyds.register(spark)
    table = t.read()
    source = spark.read.format("snapshot").option("path", t.path).load()
    assert source.dtypes == table.dtypes
    assert dict(source.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(source.collect()) == sorted(table.collect())
    if shape == "widened":
        assert dict(source.dtypes)["v"] == "bigint"


def test_read_staged_reads_what_publish_commits(spark, tmp_path):
    """The WAP audit read is the read of the manifest publish will commit:
    the head's deletion vectors apply (95 rows, not the 105 of a raw file
    scan), and on a widened table the staged generation reads under the
    table type instead of failing the schema merge."""
    t = SnapshotTable(spark, str(tmp_path / "dv"))
    t.append(spark.range(100).withColumnRenamed("id", "k"), n_files=2)
    t.delete_where_dv(F.col("k") < 10)
    t.stage_append(spark.range(100, 105).withColumnRenamed("id", "k"), "w1")
    assert t.read_staged("w1").count() == 95
    t.publish_staged("w1")
    assert t.read().count() == 95

    w = SnapshotTable(spark, str(tmp_path / "wide"))
    w.append(spark.range(10).select(F.col("id").cast("int").alias("k")), n_files=1)
    w.widen_column_type("k", "bigint")
    w.stage_append(spark.range(10, 15).withColumnRenamed("id", "k"), "w2")
    staged = w.read_staged("w2")
    assert dict(staged.dtypes)["k"] == "bigint"
    assert sorted(r["k"] for r in staged.collect()) == list(range(15))
