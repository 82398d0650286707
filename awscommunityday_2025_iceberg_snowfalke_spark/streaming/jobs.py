"""Streaming jobs: micro-batch ingest, dynamic-table refresh, and the
driver-contract streaming queries."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame
from ..stage import stage as _stage


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (ts arrives as nano-long;
    converted exactly like the batch loader)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file source wants a directory/glob, not a bare file path
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/events*.parquet")
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        # same NTZ→LTZ relabel as sources.registry.load (session TZ = UTC,
        # value identity); watermarks/epoch casts require TIMESTAMP proper
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Execute a streaming aggregation with availableNow micro-batches into
    an in-memory sink; return the final table."""
    qname = f"stream_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return agg.sparkSession.table(qname)


# --- S11: streaming ingest → aggregation (micro-batch parity) ---------------
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch `event_type_counts` computed through Structured Streaming —
    proof the micro-batch path produces identical results (its oracle is
    plain batch SQL)."""
    agg = _events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_count")
    )
    return _run_to_memory(agg)


# --- windowed extension: tumbling-window counts (event-time) ----------------
def streaming_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling windows with a watermark — the event-time extension
    the reference lacks. availableNow over static files makes it exactly
    reproducible: window boundaries are data-derived, no wall clock."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = ev.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count(F.lit(1)).alias("events"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )
    out = _run_to_memory(agg)
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("event_date"),
        "events",
    )


# --- stream-static enrichment join ------------------------------------------
def streaming_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension join — the single most common production
    streaming shape (an event stream enriched against a slowly-changing
    dimension), and the one stream-join variant this family still
    lacked next to the three stream-stream interval joins: the events
    stream joins the ``user_profiles`` dim (customer→nation→region,
    broadcastable at any SF — the dim is read fresh per micro-batch, so
    dim updates between batches are picked up automatically, which is
    exactly the semantics Structured Streaming documents for
    stream-static joins), then aggregates revenue-ish value per region ×
    event_type. No watermark needed: stream-static inner joins are
    stateless — each micro-batch joins and moves on, state stores stay
    empty (the scale contract: enrichment adds ZERO streaming state at
    any corpus size; the dim side broadcasts).

    Oracle: the equivalent batch join-aggregate — micro-batched
    execution must be indistinguishable from batch."""
    from ..functions import det_sum
    from ..sources.registry import user_profiles

    ev = _events_stream(spark, sf_dir)
    dim = user_profiles(spark, sf_dir)  # static side: plain DataFrame
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("region", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        )
    )
    return _run_to_memory(agg)


# --- S10: dynamic table (TARGET_LAG refresh) --------------------------------
def refresh_dynamic_table(
    spark: SparkSession, source_dir: str, target_path: str
) -> None:
    """One refresh cycle of the `user_engagement` dynamic table
    (P:753-766): full recompute, atomic overwrite. Scheduled per TARGET_LAG
    by an external trigger (or a ProcessingTime streaming query on a real
    cluster)."""
    ev = load(spark, source_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_types_csv"
        ),
        F.max("ts").alias("last_seen"),
    )
    agg.write.mode("overwrite").parquet(target_path)


def dynamic_table_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: refresh the dynamic table into a scratch
    location, then read it back (what a TARGET_LAG='1 hour' consumer sees)."""
    target = tempfile.mkdtemp(prefix="dyn_user_engagement_")
    refresh_dynamic_table(spark, sf_dir, target)
    return spark.read.parquet(target)


# --- custom stateful operator: streaming sessionization ---------------------
SESSION_GAP_SECONDS = 6 * 3600  # must match operators.relational.user_sessions


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a *custom stateful streaming operator*
    (``applyInPandasWithState``): per-user state carries the observed event
    epochs across micro-batches; each batch emits the user's cumulative
    (n_sessions, total_events).

    This is the operator class the reference's engine surface lacks
    entirely (SURVEY §2.12) — the Spark-native answer to "dynamic table
    with per-key state". Results are checked against the same SQL oracle
    as the batch ``user_sessions``. State here buffers raw epochs so late
    (out-of-order) arrivals re-split sessions correctly; a production
    variant with a watermark would keep only (last_ts, n_sessions) per
    key — O(1) state — once late data is bounded.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select(
        # double cast is NTZ-safe: NTZ→TIMESTAMP is session-TZ relabel
        # (identity under pinned UTC), TIMESTAMP→BIGINT is epoch seconds
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("epoch")
    )

    def update_sessions(key, pdf_iter, state: GroupState):
        import pandas as pd

        epochs = list(state.get[0]) if state.exists else []
        for pdf in pdf_iter:
            epochs.extend(int(e) for e in pdf["epoch"])
        epochs.sort()
        state.update((epochs,))
        n_sessions = sum(
            1
            for i, e in enumerate(epochs)
            if i == 0 or e - epochs[i - 1] > SESSION_GAP_SECONDS
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "total_events": [len(epochs)],
            }
        )

    emitted = ev.groupBy("user_id").applyInPandasWithState(
        update_sessions,
        outputStructType="user_id long, n_sessions long, total_events long",
        stateStructType="epochs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    raw = _run_to_memory(emitted, mode="update")
    # keep each user's latest cumulative emit (update mode appends one row
    # per key per micro-batch; the max-total_events row is the final state)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("total_events"))
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_sessions",
            "total_events",
            F.round(F.col("total_events") / F.col("n_sessions"), 4).alias(
                "events_per_session"
            ),
        )
    )


# --- S11 library: file-stream ingest + small-file simulator -----------------
def ingest_file_stream(
    spark: SparkSession,
    landing_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    schema,
) -> None:
    """Landing-zone → partitioned table ingest with exactly-once progress
    (checkpointed file tracking), availableNow micro-batches."""
    stream = spark.readStream.schema(schema).parquet(landing_dir)
    if "ts" in dict(stream.dtypes) and dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    stream = stream.withColumn("event_date", F.to_date("ts"))
    q = (
        stream.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def simulate_small_file_landing(
    df: DataFrame, landing_dir: str, n_files: int = 24
) -> None:
    """Reproduce the reference's small-file pathology (GEN:83-110): land the
    same data as many tiny files."""
    df.repartition(n_files).write.mode("overwrite").parquet(landing_dir)


# --- native session windows (third sessionization implementation) -----------
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's built-in ``session_window`` (event-time
    gap windows merged by the streaming state store) — the JVM-native
    engine path, vs. the batch LAG formulation (``user_sessions``) and the
    custom ``applyInPandasWithState`` operator. All three hash-equal the
    same SQL oracle: one semantic, three execution strategies."""
    # complete mode (no watermark): append mode would hold back any session
    # still inside its gap at end-of-stream; complete emits open windows too
    ev = _events_stream(spark, sf_dir)
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "6 hours").alias("w")
    ).agg(F.count(F.lit(1)).alias("session_events"))
    sessions = _run_to_memory(per_session, mode="complete")
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("session_events").alias("total_events"),
        F.round(
            F.sum("session_events") / F.count(F.lit(1)), 4
        ).alias("events_per_session"),
    )


# --- the demo's core narrative, end-to-end (GEN:83-110 → P:561-568) ---------
def small_file_lifecycle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproduce and cure the small-file pathology: land 7 days of events
    as 48 tiny files (the Firehose-style landing zone), ingest them through
    a checkpointed file stream into a date-partitioned table (many small
    files per partition — the P:130-147 degradation), then compact to one
    file per day (the rewrite_data_files cure). Reports rows + whether the
    table exhibits the small-file problem at each stage; row counts are
    oracle-checked, so the whole pipeline is proven lossless."""
    import glob
    import os

    from ..sources.registry import CUTOFF_7D

    ev7 = load(spark, sf_dir, "events").filter(
        F.col("ts") >= F.to_timestamp(F.lit(CUTOFF_7D))
    )
    landing = tempfile.mkdtemp(prefix="sfl_landing_")
    target = tempfile.mkdtemp(prefix="sfl_target_")
    ckpt = tempfile.mkdtemp(prefix="sfl_ckpt_")
    compacted = tempfile.mkdtemp(prefix="sfl_compacted_")
    simulate_small_file_landing(ev7, landing, n_files=48)
    schema = spark.read.parquet(landing).schema
    ingest_file_stream(spark, landing, target, ckpt, schema)

    def count_files(root: str) -> int:
        return len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))

    ingested = spark.read.parquet(target)
    n_days = ingested.select("event_date").distinct().count()
    rows_before, files_before = ingested.count(), count_files(target)
    # the cure: cluster by partition key → exactly one file per day
    ingested.repartition(F.col("event_date")).write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(compacted)
    comp = spark.read.parquet(compacted)
    rows_after, files_after = comp.count(), count_files(compacted)
    return local_frame(
        spark,
        [
            ("ingested", rows_before, files_before > n_days),
            ("compacted", rows_after, files_after > n_days),
        ],
        "stage string, n_rows long, small_file_problem boolean",
    )


# --- streaming exact dedup (state = seen keys) -------------------------------
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: first-seen (user_id, event_type) pairs
    survive, later arrivals are dropped by keyed state, then a per-user
    count. Oracle = batch DISTINCT — identical results through the
    micro-batch path. Unbounded streams would add a watermark
    (`dropDuplicatesWithinWatermark`) to bound the state store; availableNow
    over a finite table needs none."""
    s = (
        _events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("distinct_event_types"))
    )
    return _run_to_memory(s)


def streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of :func:`operators.dedup.dedup_incremental`'s
    production topology: the new-crawl batch arrives AS A STREAM and is
    screened against the standing corpus's digest index via a
    stream-static LEFT OUTER join (static side = the corpus digests — at
    100 TB a stored, bucketed digest table that each micro-batch joins
    bucket-locally; here it broadcasts). One streaming aggregation rolls
    up per-language batch/fresh/duplicate counts — Spark allows exactly
    one agg per streaming query, so the within-batch min-id dedup that
    the batch operator also performs stays in the batch path; the stream
    reports arrival-screening accounting, its own SQL-expressible
    contract. Same doc-id 80% split as the batch twin."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    docs = load(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    split = int(lo) + int((int(hi) - int(lo)) * 0.8)
    corpus = (
        docs.filter(F.col("doc_id") < split)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("known", F.lit(True))
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/documents*.parquet")
        .filter(F.col("doc_id") >= split)
        .select("doc_id", "lang", F.sha2("text", 256).alias("h"))
    )
    flagged = stream.join(F.broadcast(corpus), "h", "left_outer")
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("batch_docs"),
        F.sum(F.col("known").isNull().cast("long")).alias("fresh_docs"),
        F.sum(F.col("known").isNotNull().cast("long")).alias("dup_docs"),
    )
    return _run_to_memory(agg)


def streaming_cdc_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming merge-on-read: latest state per key maintained as a
    STREAMING aggregation — the standing read-model a CDC consumer keeps
    while change events arrive (the batch twin is
    ``operators.pipeline.cdc_latest_events``; both hash-equal the same
    QUALIFY-row_number oracle, the sessionization-trio pattern). The
    latest row rides a single ``max(struct(ts, event_id, …))`` keyed
    aggregate: per-key state is ONE struct regardless of stream length —
    the O(1)-per-key state bound that makes this viable on an unbounded
    CDC feed (plus a watermark there; availableNow over a finite table
    needs none)."""
    s = _events_stream(spark, sf_dir).select(
        "user_id", F.struct("ts", "event_id", "event_type").alias("st")
    )
    latest = s.groupBy("user_id").agg(F.max("st").alias("st"))
    out = latest.select(
        "user_id",
        F.col("st.event_id").alias("event_id"),
        F.col("st.event_type").alias("event_type"),
        F.date_format("st.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )
    return _run_to_memory(out)


def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-to-table WRITE path the reference's dynamic-table story
    implies (P:753-766): change batches arrive as a stream and each
    micro-batch lands in the snapshot table via MERGE — i.e.
    ``foreachBatch`` + ``SnapshotTable.merge``, the Structured-Streaming
    idiom for continuous upsert into an Iceberg-style table (Iceberg's
    own docs prescribe exactly this pairing for streaming MERGE INTO).

    Topology: v1 seeds the table with the cold events (< 7d cutoff); the
    CDC feed (events from ``_MERGE_CUT`` on, value doubled — the same
    change-set as the batch twin ``merge_upsert_events``) is staged as 4
    files and consumed with ``maxFilesPerTrigger=1``, so FOUR separate
    micro-batches each run one atomic MERGE commit — the history
    assertion pins append + 4 merges. Keys are unique across the feed, so
    the final table state is batching-invariant and the oracle is
    hash-equal to ``merge_upsert_events``'s. At 100 TB each micro-batch
    merge scopes to overlapping files (see ``SnapshotTable.merge``'s
    scale note); exactly-once comes from the checkpoint's batch-id ledger
    plus the table's CAS commit (a replayed batch re-merges the same keys
    idempotently)."""
    from ..operators.lifecycle import _MERGE_CUT, CUTOFF_7D, make_table

    ev = load(spark, sf_dir, "events")
    cold_cut = F.to_timestamp(F.lit(CUTOFF_7D))
    src_cut = F.to_timestamp(F.lit(_MERGE_CUT))
    tbl = make_table(spark, "streammerge_")
    tbl.append(ev.filter(F.col("ts") < cold_cut), n_files=8)

    feed_dir = tempfile.mkdtemp(prefix="cdc_feed_")
    source = ev.filter(F.col("ts") >= src_cut).withColumn(
        "value", F.col("value") * 2
    )
    source.repartition(4).write.mode("overwrite").parquet(feed_dir)
    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tbl.merge(batch_df, keys=["event_id"], n_files=8)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cdc_ckpt_"))
        .start()
    )
    q.awaitTermination()
    ops = [m["operation"] for m in tbl.history()]
    assert ops == ["append"] + ["merge"] * 4, ops
    from ..functions import det_sum

    return (
        tbl.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        )
    )


def streaming_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WRITE-AUDIT-PUBLISH: every arriving micro-batch is
    STAGED under a per-batch WAP id, audited with a real query over the
    staged read, and only then published (or aborted) — the streaming
    twin of ``wap_publish_audit`` and the production ingestion gate for
    continuous feeds (bad batches never become visible to main, even
    transiently; plain ``foreachBatch``+append exposes them between
    commit and quarantine).

    Topology: v1 seeds cold events; the feed is 4 clean hot files plus
    ONE poisoned file (negated values under offset ids), consumed with
    ``maxFilesPerTrigger=1`` → 5 micro-batches. The audit — staged read
    must contain no negative values — publishes exactly the 4 clean
    batches and aborts the poison; orphan GC then reclaims the aborted
    batch's files while the published data survives. History is pinned
    to append + 4 wap.publish commits, and the final state is hash-equal
    to a plain hot+cold append (the oracle: the full events table).
    Exactly-once: the checkpoint's batch-id ledger plus idempotent
    staged manifests per WAP id (a replayed batch restages, then
    publishes once through the CAS commit)."""
    from ..operators.lifecycle import CUTOFF_7D, make_table

    ev = load(spark, sf_dir, "events")
    cold_cut = F.to_timestamp(F.lit(CUTOFF_7D))
    tbl = make_table(spark, "streamwap_")
    tbl.append(ev.filter(F.col("ts") < cold_cut), n_files=8)

    feed_dir = tempfile.mkdtemp(prefix="wap_feed_")
    hot = ev.filter(F.col("ts") >= cold_cut)
    hot.repartition(4).write.mode("overwrite").parquet(feed_dir)
    poison = hot.withColumn("event_id", F.col("event_id") + 10_000_000).withColumn(
        "value", -F.col("value")
    )
    poison.coalesce(1).write.mode("append").parquet(feed_dir)

    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )

    def wap_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wid = f"b{batch_id}"
        tbl.stage_append(batch_df, wid, n_files=2)
        has_neg = bool(
            tbl.read_staged(wid).filter(F.col("value") < 0).limit(1).count()
        )
        if has_neg:
            tbl.abort_staged(wid)
        else:
            tbl.publish_staged(wid)

    q = (
        stream.writeStream.foreachBatch(wap_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="wap_ckpt_"))
        .start()
    )
    q.awaitTermination()
    ops = [m["operation"] for m in tbl.history()]
    assert ops == ["append"] + ["wap.publish"] * 4, ops
    assert len(tbl.remove_orphan_files()) >= 1, "aborted batch must orphan"
    from ..functions import det_sum

    return (
        tbl.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        )
    )


def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics made OBSERVABLE — the one Structured
    Streaming behavior ``availableNow``-over-one-batch can't exercise: a
    row arriving after the watermark has passed its window is DROPPED
    from the aggregation. Every other streaming entry here processes all
    input before the watermark first advances, so nothing is ever late;
    this entry forces a genuine drop with a THREE-micro-batch feed
    (``maxFilesPerTrigger=1``, file mtimes pin the order):

    - batches 1+2 = the on-time bulk (``ts >= 2024-01-08``, split at
      Jan 25) → the watermark advances to max(ts) − 1 day (≈ Jan 30);
    - batch 3 = the stragglers (``ts < 2024-01-08``) — whole days behind
      the watermark, so the windowed aggregation discards them
      (``numRowsDroppedByWatermark`` = |stragglers|, probed below).

    Two on-time batches, not one, because the input-side late filter
    applies the watermark with a one-batch lag (measured on 4.1: with
    the stragglers as batch 2, eviction already used the advanced
    watermark but the input filter still passed the late rows); the lag
    is Spark's documented cross-run watermark semantics — the filter
    uses the watermark as of the previous COMPLETED batch's planning.

    Output = final per-day counts (update-mode memory sink; counts are
    monotone, so MAX per window is the final state). The oracle pins the
    semantic: counts equal a batch aggregation OVER THE ON-TIME ROWS
    ONLY — if the late rows leaked into the result, every straggler day
    would appear and the hash would mismatch. At 100 TB this is the
    correctness contract that bounds streaming state: without the
    watermark every day ever seen stays in state forever; with it, state
    is O(days inside the lateness horizon) and late rows are an
    auditable drop (Spark exposes the same trade in
    ``observedMetrics``/``numRowsDroppedByWatermark``)."""
    import os
    import shutil

    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-08 00:00:00"))
    feed_dir = tempfile.mkdtemp(prefix="late_feed_")
    staging = tempfile.mkdtemp(prefix="late_stage_")

    def _land(df: DataFrame, name: str, mtime: float) -> None:
        d = os.path.join(staging, name)
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dst = os.path.join(feed_dir, f"{name}.parquet")
        shutil.move(os.path.join(d, part), dst)
        os.utime(dst, (mtime, mtime))

    # mtimes 100 s apart: the file source processes oldest-first, so the
    # on-time bulk fills micro-batches 1-2 and the stragglers are batch 3
    mid = F.to_timestamp(F.lit("2024-01-25 00:00:00"))
    _land(
        ev.filter((F.col("ts") >= cut) & (F.col("ts") < mid)),
        "b0_ontime",
        1_700_000_000.0,
    )
    _land(ev.filter(F.col("ts") >= mid), "b1_ontime", 1_700_000_100.0)
    _land(ev.filter(F.col("ts") < cut), "b2_late", 1_700_000_200.0)

    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = f"stream_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the counter sees PARTIAL aggregates (the map-side combine runs
    # before the stateful operator), so it counts late (window ×
    # input-partition) rows, not raw straggler rows — nonzero is the
    # contract; the day-absence assert below pins the full semantic
    dropped = sum(
        o["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for o in p["stateOperators"]
    )
    assert dropped > 0, "watermark drop counter never fired"
    out = spark.table(qname)
    final = (
        out.groupBy("w")
        .agg(F.max("n").alias("events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("event_date"),
            "events",
        )
    )
    # hard in-engine pin: had the stragglers NOT been dropped, pre-cut
    # days would be present and this would raise before the oracle runs
    leaked = final.filter(F.col("event_date") < "2024-01-08").count()
    assert leaked == 0, f"watermark failed to drop late rows ({leaked} days)"
    return final


def _interval_join_feed(
    spark: SparkSession, sf_dir: str, sentinels: bool = False
) -> tuple:
    """Stage the two interval-join feeds: purchases and the CANONICAL
    deduped signup relation — one row per (user_id, ts), max event_id
    wins — exactly the batch twin's ``_dedup_signups`` and the oracle's
    GROUP BY (a raw feed would diverge from the oracle the day the data
    grows a (user_id, ts) signup tie; none exist in the testdata today,
    latent ≠ safe). With ``sentinels=True`` each side gets a second,
    later file holding ONE far-future marker row (ids < 0, filtered from
    output): processed as its own micro-batch, it advances both
    watermarks past every real row — the flush signal the OUTER join
    needs to emit its unmatched rows."""
    import os
    import shutil

    ev = load(spark, sf_dir, "events")
    feed = tempfile.mkdtemp(prefix="ssj_feed_")
    p_dir, s_dir = os.path.join(feed, "p"), os.path.join(feed, "s")
    os.makedirs(p_dir)
    os.makedirs(s_dir)
    staging = tempfile.mkdtemp(prefix="ssj_stage_")

    def _land(df: DataFrame, d: str, name: str, mtime: float) -> None:
        t = os.path.join(staging, name + os.path.basename(d))
        df.coalesce(1).write.mode("overwrite").parquet(t)
        part = next(f for f in os.listdir(t) if f.endswith(".parquet"))
        dst = os.path.join(d, f"{name}.parquet")
        shutil.move(os.path.join(t, part), dst)
        os.utime(dst, (mtime, mtime))

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    _land(purchases, p_dir, "b0", 1_700_000_000.0)
    _land(signups, s_dir, "b0", 1_700_000_000.0)
    if sentinels:
        sent_p = local_frame(
            spark, [(-1, -1)], "purchase_event_id long, p_user long"
        ).select(
            "purchase_event_id",
            "p_user",
            F.to_timestamp(F.lit("2030-01-01 00:00:00")).alias("p_ts"),
        )
        # a different far-future instant so the two sentinels never join
        sent_s = local_frame(
            spark, [(-1, -1)], "s_user long, signup_event_id long"
        ).select(
            "s_user",
            F.to_timestamp(F.lit("2031-01-01 00:00:00")).alias("s_ts"),
            "signup_event_id",
        )
        _land(sent_p, p_dir, "b1", 1_700_000_100.0)
        _land(sent_s, s_dir, "b1", 1_700_000_100.0)
    return p_dir, s_dir


def _interval_join_streams(
    spark: SparkSession, p_dir: str, s_dir: str, per_file: bool
) -> tuple:
    reader_p = spark.readStream.schema(spark.read.parquet(p_dir).schema)
    reader_s = spark.readStream.schema(spark.read.parquet(s_dir).schema)
    if per_file:
        reader_p = reader_p.option("maxFilesPerTrigger", 1)
        reader_s = reader_s.option("maxFilesPerTrigger", 1)
    return (
        reader_p.parquet(p_dir).withWatermark("p_ts", "1 hour"),
        reader_s.parquet(s_dir).withWatermark("s_ts", "1 hour"),
    )


_SSJ_COND = (
    lambda: (F.col("p_user") == F.col("s_user"))
    & (F.col("p_ts") >= F.col("s_ts"))
    & (F.col("p_ts") < F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
)


def _ssj_select(out: DataFrame) -> DataFrame:
    return out.select(
        "purchase_event_id",
        F.col("p_user").alias("user_id"),
        "signup_event_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    )


def streaming_interval_join_purchase_signup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM JOIN with event-time bounds — the last major
    Structured Streaming operator class this corpus lacked: purchases
    and signups arrive as two independent streams; each purchase joins
    signups of the same user within [s_ts, s_ts + 1 hour). Both sides
    carry watermarks and the join condition carries the time band, which
    is exactly what lets Spark BOUND THE JOIN STATE: a buffered signup
    can be dropped once the purchase-side watermark passes s_ts + 1 hour
    (without the band + watermarks, each side buffers the other's entire
    history forever — the stream-stream join scale trap). Inner join in
    append mode: matches emit as soon as both sides arrive; the oracle
    is the batch interval-join twin (`purchases_within_hour_of_signup`)
    VERBATIM — micro-batched arrival must not change the answer."""
    p_dir, s_dir = _interval_join_feed(spark, sf_dir)
    purchases, signups = _interval_join_streams(
        spark, p_dir, s_dir, per_file=False
    )
    joined = purchases.join(signups, _SSJ_COND())
    return _ssj_select(_run_to_memory(joined, mode="append"))


def streaming_interval_join_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join — the semantics that make the
    watermark+band LOAD-BEARING rather than merely state-saving: an
    unmatched purchase can only emit its NULL-signup row once the
    signup-side watermark proves no matching signup (s_ts ≤ p_ts, within
    the band) can still arrive. Topology: micro-batch 1 carries the real
    rows of both streams; micro-batch 2 carries one far-future SENTINEL
    per side (ids < 0, filtered from output), advancing both watermarks
    past every real row so the held-back outer rows flush — plus Spark's
    no-data final batch completing the eviction. Without the sentinels
    the query ends with the unmatched rows silently stuck in state: the
    production lesson this entry pins is that OUTER stream-stream
    results are only as complete as the watermark you advance. Oracle =
    the batch LEFT JOIN twin; matched rows are hash-identical to the
    inner entry's."""
    p_dir, s_dir = _interval_join_feed(spark, sf_dir, sentinels=True)
    purchases, signups = _interval_join_streams(
        spark, p_dir, s_dir, per_file=True
    )
    joined = purchases.join(signups, _SSJ_COND(), "left_outer")
    out = _run_to_memory(joined, mode="append").filter(
        F.col("purchase_event_id") >= 0
    )
    return _ssj_select(out)


def tws_available() -> bool:
    """Spark 4's state-v2 Python protocol (transformWithStateInPandas)
    speaks protobuf to its stateful-processor driver worker; this image
    ships no ``google.protobuf`` and has no egress to install one, so
    the API is ENVIRONMENT-BLOCKED here (verified: the worker dies with
    ImportError in StateMessage_pb2 — transcript in SCALE.md). The
    operator below is complete, but because it has NEVER executed green
    (the code path is untestable on this image), registration into the
    driver gate additionally requires the explicit opt-in flag
    ``SPARK_GRAFT_ENABLE_TWS=1`` — a protobuf-equipped image must first
    run it green deliberately rather than silently admitting an untested
    entry (r11 ADVICE). The applyInPandasWithState sessionization trio
    covers the custom-stateful-operator class on this image."""
    import os

    if os.environ.get("SPARK_GRAFT_ENABLE_TWS") != "1":
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_tws_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch EXACTLY-ONCE dedup on ``transformWithStateInPandas``
    — Spark 4's state-v2 API (the ``StatefulProcessor`` successor to
    ``applyInPandasWithState``, with named state variables, timers, and
    an initial-state hook): the at-least-once delivery repair every
    ingest pipeline runs in front of a lakehouse sink. Feed: two
    micro-batches whose event sets OVERLAP (the middle third arrives in
    both — a redelivered Kinesis shard), so the dedup is genuinely
    CROSS-batch: per-``event_id`` ``ValueState`` remembers first
    delivery and later redeliveries emit nothing. State is one boolean
    per key inside the lateness/redelivery horizon — in production a
    TTL clears it once the at-least-once window passes (TTL is
    wall-clock and would break determinism here, so the entry pins the
    semantics and documents the knob). Oracle = the batch aggregation
    over DISTINCT events — micro-batched, redelivered arrival must not
    change the answer."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas is environment-blocked on this "
            "image: its state protocol requires google.protobuf, which "
            "is not installed and cannot be (no egress). On a complete "
            "image this entry registers itself automatically "
            "(see tws_available)."
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = ev.count()
    lo_third = ev.filter(F.col("event_id") % 3 <= 1)   # thirds 0,1
    hi_third = ev.filter(F.col("event_id") % 3 >= 1)   # thirds 1,2 (overlap!)
    feed = tempfile.mkdtemp(prefix="tws_feed_")
    for k, part in enumerate((lo_third, hi_third)):
        d = os.path.join(feed, f"b{k}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                dst = os.path.join(feed, f"batch{k}.parquet")
                shutil.move(os.path.join(d, f), dst)
                os.utime(dst, (1_700_000_000.0 + k,) * 2)
        shutil.rmtree(d)

    class DedupFirstDelivery(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.seen = handle.getValueState("seen", "flag byte")

        def handleInputRows(self, key, rows, timerValues):
            if self.seen.exists():
                return
            self.seen.update((1,))
            emitted = False
            for pdf in rows:
                if not emitted and len(pdf) > 0:
                    yield pdf.iloc[:1]
                    emitted = True

        def close(self) -> None:
            pass

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    deduped = stream.groupBy("event_id").transformWithStateInPandas(
        statefulProcessor=DedupFirstDelivery(),
        outputStructType="event_id long, event_type string, value double",
        outputMode="Append",
        timeMode="None",
    )
    out = _run_to_memory(deduped, mode="append")
    assert out.count() == n, "exactly-once: every event exactly once"
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,2)")).cast("double"), 2
        ).alias("sum_value"),
    )


def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality classifier deployed as a STREAMING INGEST GATE — the
    production curation shape: documents arrive as micro-batches and
    each batch is scored against a FROZEN linear quality model before
    anything lands (CCNet/DCLM run exactly this screen at the crawl
    frontier). Weights are trained ONCE on the standing corpus
    (``textstats._qc_weights`` — in production an offline artifact; here
    the full corpus so the oracle can reproduce every score), then THREE
    micro-batches (``maxFilesPerTrigger=1``, mtimes pin order) each run
    the identical inference — feature explode → broadcast frozen
    weights → per-doc integer micro-score — inside ``foreachBatch``. The gate
    is STATELESS (zero streaming state: a doc never spans batches, so
    per-batch batch-semantics scoring is exact), which is what lets it
    run at crawl throughput; per-language admit/reject counts accumulate
    driver-side (≤|langs| rows per batch). Batching-invariance is the
    pinned claim: three independent batch scorings must sum to exactly
    the batch twin's per-language aggregate — the oracle is the batch
    classifier rolled up by language."""
    from ..operators import textstats as T

    docs = load(spark, sf_dir, "documents")
    corpus = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # r16 (guide §1.2): train the frozen weights in ONE pass + bounded
    # collect (_qc_weight_arrays) and rebuild the ≤QC_BUCKETS-row frozen
    # dictionary as a local relation — identical integers; was a staged
    # feature matrix consumed by two aggregations plus a join-time
    # recompute. Each micro-batch still scores through the unchanged
    # broadcast-join inference (_qc_scored) against these frozen rows.
    w6, present = T._qc_weight_arrays(T._qc_features(corpus))
    weights = T._qc_weights_relation(spark, w6, present)

    feed = tempfile.mkdtemp(prefix="qgate_feed_")
    for k in range(3):
        part = docs.filter(F.col("doc_id") % 3 == k)
        d = os.path.join(feed, f"b{k}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                src = os.path.join(d, f)
                dst = os.path.join(feed, f"batch{k}.parquet")
                shutil.move(src, dst)
                os.utime(dst, (1_700_000_000.0 + k, 1_700_000_000.0 + k))
        shutil.rmtree(d)

    acc: dict[str, list[int]] = {}

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = T._qc_scored(T._qc_features(batch_df), weights)
        # ws is the integer micro-score (Σ cnt·w6) — pure int compare
        admitted = (F.col("ws") > 0).cast("long")
        for r in (
            scored.groupBy("lang")
            .agg(
                F.sum(admitted).alias("adm"),
                F.sum(1 - admitted).alias("rej"),
            )
            .collect()
        ):
            a = acc.setdefault(r["lang"], [0, 0])
            a[0] += int(r["adm"])
            a[1] += int(r["rej"])

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(gate_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="qgate_ckpt_"))
        .start()
    )
    q.awaitTermination()
    rows = [
        (lang, v[0], v[1]) for lang, v in sorted(acc.items())
    ]
    return local_frame(
        spark,
        rows, "lang string, admitted_docs long, rejected_docs long"
    )


def streaming_interval_join_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER stream-stream join — completing the interval-join
    family (inner at jobs.py:~701, LEFT OUTER above): BOTH sides'
    unmatched rows emit, each gated by the OTHER side's watermark — an
    unmatched purchase needs the signup watermark past its band, an
    unmatched signup needs the purchase watermark past s_ts + 1 hour
    (the band's upper bound) before Spark can prove no purchase will
    ever land inside it. Same sentinel topology as the LEFT OUTER entry
    (micro-batch 2 = one far-future sentinel per side at DIFFERENT
    instants so the sentinels never join each other; both filtered from
    output), pinning that outer completeness on EITHER side is exactly
    as good as the watermark you advance on the opposite side. State
    stays bounded by the band + watermarks precisely as in the inner
    join — full outer adds no state, only null-emission bookkeeping.
    Oracle = the batch FULL OUTER twin; matched rows hash-identical to
    the inner entry's."""
    p_dir, s_dir = _interval_join_feed(spark, sf_dir, sentinels=True)
    purchases, signups = _interval_join_streams(
        spark, p_dir, s_dir, per_file=True
    )
    joined = purchases.join(signups, _SSJ_COND(), "full_outer")
    out = _run_to_memory(joined, mode="append").filter(
        (F.col("purchase_event_id").isNull() | (F.col("purchase_event_id") >= 0))
        & (F.col("signup_event_id").isNull() | (F.col("signup_event_id") >= 0))
    )
    return out.select(
        "purchase_event_id",
        F.coalesce(F.col("p_user"), F.col("s_user")).alias("user_id"),
        "signup_event_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("s_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    )


def streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING feed of the mergeable quantile layer
    (:func:`operators.analytics.quantile_sketch_rollup`'s twin — the
    live percentile dashboard): events arrive as 4 micro-batches
    (``maxFilesPerTrigger=1``); ``foreachBatch`` reduces each batch to
    its bounded (bin, count) histogram under the SAME frozen spec
    (bin = min(floor(value), 1023)) and appends those ≤1024 sketch rows
    to the store — per batch, sketch-sized I/O, never the raw rows.
    Because fixed-bin histograms merge by plain SUM, the store answers
    any quantile at any moment; the in-engine assert pins the
    stream-merged histogram EQUAL to the one-pass batch histogram
    (exceptAll-empty both ways — the mergeability contract across
    micro-batch boundaries), so the output rows are batching-invariant
    and share the batch twin's oracle arithmetic.

    Scale: each micro-batch contributes one map-side-combinable agg to
    ≤1024 rows; the store grows by ≤1024 rows per batch and compacts by
    the same SUM; exactly-once from the checkpoint batch-id ledger (a
    replayed batch would append its batch_id rows idempotently — dedup
    by batch_id before the merge, the WAP idempotence convention)."""
    import math

    ev = load(spark, sf_dir, "events")
    feed_dir = tempfile.mkdtemp(prefix="qsk_feed_")
    store_dir = tempfile.mkdtemp(prefix="qsk_store_")
    ev.repartition(4).write.mode("overwrite").parquet(feed_dir)
    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    from ..operators.analytics import (
        QSK_BIN_CAP,
        QSK_QUANTILES,
        _merged_histogram,
    )

    b = F.least(F.floor("value").cast("int"), F.lit(QSK_BIN_CAP)).alias(
        "bin"
    )

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.select(b)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(store_dir)
        )

    q = (
        stream.writeStream.foreachBatch(sketch_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="qsk_ckpt_"))
        .start()
    )
    q.awaitTermination()

    bins, n_batches = _merged_histogram(
        spark.read.parquet(store_dir), ev.select(b), "batch_id", "stream merge"
    )
    assert n_batches == 4, f"expected 4 micro-batches, got {n_batches}"
    n = sum(c for _, c in bins)
    rows = []
    for qv in QSK_QUANTILES:
        k = math.ceil(qv * n)
        cum = 0
        for bv, c in bins:
            cum += c
            if cum >= k:
                rows.append((qv, k, n, float(bv), float(bv + 1), n_batches))
                break
    return local_frame(
        spark,
        rows,
        "quantile double, target_rank long, n_rows long, sketch_lo double,"
        " sketch_hi double, n_batches_merged int",
    ).orderBy("quantile")


QUERIES = {
    "streaming_event_counts": streaming_event_counts,
    "streaming_quantile_sketch": streaming_quantile_sketch,
    "streaming_dim_join": streaming_dim_join,
    "streaming_watermark_late_drop": streaming_watermark_late_drop,
    "streaming_interval_join_purchase_signup": (
        streaming_interval_join_purchase_signup
    ),
    "streaming_interval_join_left_outer": streaming_interval_join_left_outer,
    "streaming_interval_join_full_outer": streaming_interval_join_full_outer,
    "streaming_quality_gate": streaming_quality_gate,
    "streaming_merge_upsert": streaming_merge_upsert,
    "streaming_wap_publish": streaming_wap_publish,
    "streaming_cdc_latest_events": streaming_cdc_latest_events,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_daily_windows": streaming_daily_windows,
    "dynamic_table_user_engagement": dynamic_table_user_engagement,
    "streaming_user_sessions": streaming_user_sessions,
    "small_file_lifecycle_report": small_file_lifecycle_report,
    "streaming_session_windows": streaming_session_windows,
    "streaming_dedup_incremental": streaming_dedup_incremental,
}

from ..functions import det_sum_sql  # noqa: E402
from ..operators.lifecycle import ORACLE as _LC_ORACLE  # noqa: E402
from ..operators.relational import ORACLE as _REL_ORACLE  # noqa: E402
from ..operators.temporal import ORACLE as _TMP_ORACLE  # noqa: E402

_DS2 = det_sum_sql("value", 2)

from ..operators.textstats import _QC_CTES as _QC  # noqa: E402

from ..sources.registry import PROFILES_SQL  # noqa: E402

ORACLE = {
    # four streaming MERGE micro-batches must land the exact final table
    # state the batch twin's single MERGE lands (keys unique ⇒ invariant)
    "streaming_merge_upsert": _LC_ORACLE["merge_upsert_events"],
    # stream-static joins are stateless and per-batch — the micro-batched
    # enrichment must equal the batch join-aggregate exactly
    "streaming_dim_join": f"""
        SELECT pr.region, e.event_type,
               COUNT(*) AS n_events,
               {_DS2} AS sum_value
        FROM events e JOIN {PROFILES_SQL} pr ON e.user_id = pr.user_id
        GROUP BY 1, 2
    """,
    # the stateless gate is batching-invariant: three micro-batch
    # scorings under frozen weights must sum to the batch classifier's
    # per-language rollup exactly
    "streaming_quality_gate": _QC + """
    SELECT lang,
           CAST(SUM(CASE WHEN ws > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS admitted_docs,
           CAST(SUM(CASE WHEN ws > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS rejected_docs
    FROM s GROUP BY lang
    """,
    # micro-batched arrival must not change the interval-join answer
    "streaming_interval_join_purchase_signup": (
        _TMP_ORACLE["purchases_within_hour_of_signup"]
    ),
    # the outer variant: every purchase appears — matched rows identical
    # to the inner entry, unmatched with NULL signup columns
    "streaming_interval_join_left_outer": """
        SELECT p.event_id AS purchase_event_id,
               p.user_id,
               s.signup_event_id,
               STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               STRFTIME(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT user_id, ts, MAX(event_id) AS signup_event_id
                   FROM events WHERE event_type = 'signup'
                   GROUP BY user_id, ts) s
          ON p.user_id = s.user_id
         AND p.ts >= s.ts
         AND p.ts < s.ts + INTERVAL 1 HOUR
    """,
    # the full-outer variant: every purchase AND every signup appears;
    # matched rows identical to the inner entry, unmatched rows NULL on
    # the absent side
    "streaming_interval_join_full_outer": """
        SELECT p.event_id AS purchase_event_id,
               COALESCE(p.user_id, s.user_id) AS user_id,
               s.signup_event_id,
               STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               STRFTIME(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        FULL JOIN (SELECT user_id, ts, MAX(event_id) AS signup_event_id
                   FROM events WHERE event_type = 'signup'
                   GROUP BY user_id, ts) s
          ON p.user_id = s.user_id
         AND p.ts >= s.ts
         AND p.ts < s.ts + INTERVAL 1 HOUR
    """,
    # 4 published clean batches + 1 aborted poison batch ⇒ final state is
    # exactly a hot+cold append: the full events table
    "streaming_wap_publish": f"""
        SELECT event_type, COUNT(*) AS n_events,
               {_DS2} AS sum_value
        FROM events GROUP BY event_type
    """,
    # stream-static screening must equal the same accounting in batch SQL
    "streaming_dedup_incremental": """
        WITH bounds AS (
            SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        ),
        digests AS (
            SELECT doc_id, lang, sha256(text) AS h,
                   (SELECT lo + CAST(FLOOR((hi - lo) * 0.8) AS BIGINT)
                    FROM bounds) AS split
            FROM documents
        ),
        corpus AS (SELECT DISTINCT h FROM digests WHERE doc_id < split),
        batch AS (SELECT * FROM digests WHERE doc_id >= split)
        SELECT lang, COUNT(*) AS batch_docs,
               CAST(SUM(CASE WHEN h NOT IN (SELECT h FROM corpus)
                        THEN 1 ELSE 0 END) AS BIGINT) AS fresh_docs,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM corpus)
                        THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
        FROM batch GROUP BY lang
    """,
    # the stateful streaming operator must equal the batch sessionization
    "streaming_user_sessions": _REL_ORACLE["user_sessions"],
    # streaming latest-per-key must equal the batch merge-on-read twin
    "streaming_cdc_latest_events": """
        SELECT user_id, event_id, event_type,
               STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        FROM events
        QUALIFY ROW_NUMBER() OVER
            (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "streaming_session_windows": _REL_ORACLE["user_sessions"],
    "small_file_lifecycle_report": """
        SELECT 'ingested' AS stage,
               (SELECT COUNT(*) FROM events
                WHERE ts >= TIMESTAMP '2024-01-24 00:00:00') AS n_rows,
               TRUE AS small_file_problem
        UNION ALL
        SELECT 'compacted',
               (SELECT COUNT(*) FROM events
                WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'),
               FALSE
    """,
    # streaming results must equal their batch twins
    "streaming_event_counts": """
        SELECT event_type, COUNT(*) AS event_count FROM events GROUP BY event_type
    """,
    "streaming_dedup_events": """
        SELECT user_id, COUNT(*) AS distinct_event_types
        FROM (SELECT DISTINCT user_id, event_type FROM events)
        GROUP BY user_id
    """,
    "dynamic_table_user_engagement": """
        SELECT user_id, COUNT(*) AS total_events,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                   AS event_types_csv,
               CAST(MAX(ts) AS TIMESTAMP) AS last_seen
        FROM events GROUP BY user_id
    """,
    # streaming_daily_windows: approx_count_distinct is engine-specific →
    # the `events` column is exact though; omit approx col from output? It
    # is dropped in the final select, so the oracle is exact:
    "streaming_daily_windows": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               COUNT(*) AS events
        FROM events GROUP BY 1
    """,
    # late stragglers (ts < the cut) arrive in micro-batch 2, AFTER the
    # watermark advanced past their windows — the result must equal a
    # batch aggregation over the ON-TIME rows only
    "streaming_watermark_late_drop": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               COUNT(*) AS events
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY 1
    """,
}


if tws_available():  # pragma: no cover — environment-blocked on this image
    QUERIES["streaming_tws_dedup"] = streaming_tws_dedup
    # redelivered micro-batches must land the DISTINCT-events aggregate
    ORACLE["streaming_tws_dedup"] = """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE), 2)
               AS sum_value
    FROM events GROUP BY event_type
    """

ORACLE["streaming_quantile_sketch"] = """
    WITH bins AS (
        SELECT LEAST(CAST(FLOOR(value) AS INT), 1023) AS b,
               COUNT(*) AS c
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bins),
    qs(q) AS (VALUES (0.5), (0.9), (0.99)),
    tgt AS (SELECT CAST(q AS DOUBLE) AS q,
                   CAST(CEIL(CAST(q AS DOUBLE) * n) AS BIGINT) AS k, n
            FROM qs, tot),
    cum AS (SELECT b, SUM(c) OVER (ORDER BY b) AS cumc FROM bins),
    est AS (SELECT t.q, t.k, t.n, MIN(cum.b) AS blo
            FROM tgt t JOIN cum ON cum.cumc >= t.k GROUP BY 1, 2, 3)
    SELECT q AS quantile, k AS target_rank, n AS n_rows,
           CAST(blo AS DOUBLE) AS sketch_lo,
           CAST(blo + 1 AS DOUBLE) AS sketch_hi,
           CAST(4 AS INT) AS n_batches_merged
    FROM est ORDER BY quantile
"""
