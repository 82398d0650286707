"""Sinks + layouts (SURVEY §2.1 S1-S3, S7).

The reference writes Hive-partitioned Parquet (year=/month=/day=/ paths,
generate_sample_data.py:106,135) with two deliberate file-size regimes
(small-file pathology vs healthy large files), CSV for the profile dim
(generate_sample_data.py:178-183), and a hot-tier CTAS
(demo-setup/README.md:199-200). Spark expresses all three declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 192 * 1024 * 1024  # reference optimum 128-256 MB (P:305)


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
    mode: str = "overwrite",
) -> None:
    """Hive-style time-partitioned Parquet sink (S1+S2).

    Mirrors generate_sample_data.py:106/135 layouts. At 100 TB the partition
    column bounds file counts: day granularity over a year = 365 partitions;
    Spark writes one file per partition per task, so pair with
    ``.repartition(partition cols)`` to avoid the small-file pathology the
    reference demos (P:130-147).
    """
    ts = F.col(ts_col)
    parted = df.withColumn("year", F.year(ts)).withColumn("month", F.month(ts))
    cols = ["year", "month"]
    if granularity == "day":
        parted = parted.withColumn("day", F.dayofmonth(ts))
        cols.append("day")
    # one shuffle keyed on the partition values → one file per partition
    parted.repartition(*[F.col(c) for c in cols]).write.mode(mode).partitionBy(
        *cols
    ).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (S3) — profile-table export parity
    (generate_sample_data.py:178-183)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV load with schema inference — ``COPY INTO ... SKIP_HEADER=1``
    parity (demo-setup/README.md:107-116)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def ctas_hot_tier(
    events: DataFrame, path: str, cutoff: str, ts_col: str = "ts"
) -> DataFrame:
    """Hot-tier CTAS (S7): materialize recent rows to a fast table
    (demo-setup/README.md:199-200; P:936-939). Returns the re-read hot df.
    """
    hot = events.filter(F.col(ts_col) >= F.lit(cutoff))
    hot.write.mode("overwrite").parquet(path)
    return events.sparkSession.read.parquet(path)


# --- driver-contract queries -------------------------------------------------
def csv_roundtrip_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 parity: profile dim → CSV (header) → re-read with schema
    inference (the COPY INTO ... SKIP_HEADER=1 path,
    demo-setup/README.md:107-116) → aggregate. Inference must recover
    bigint/double types from text for the agg to hash-match the oracle."""
    import tempfile

    from .registry import user_profiles

    prof = user_profiles(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="csv_profiles_")
    write_csv(prof, path)
    back = read_csv(spark, path)
    return (
        back.groupBy("region", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum(F.col("acctbal").cast("decimal(28,8)")).cast("double"), 2)
                .alias("total_acctbal"),
        )
    )


def hot_tier_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 parity: CTAS the hot tier (last 7 d) to its own table, then
    aggregate from the materialized copy (demo-setup/README.md:199-200)."""
    import tempfile

    from .registry import CUTOFF_HOT, load

    ev = load(spark, sf_dir, "events")
    hot = ctas_hot_tier(ev, tempfile.mkdtemp(prefix="hot_tier_"), CUTOFF_HOT)
    return hot.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("hot_events"),
        F.countDistinct("user_id").alias("hot_users"),
    )


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline optimization demo (PC:147-156 "Partition
    Pruned Query" vs full scan): land events in the Hive year=/month=/day=
    layout (S2, GEN:106), then aggregate one day through partition-column
    predicates. The filter never touches data files outside day=15 —
    Catalyst prunes directories at planning time (PartitionFilters in the
    scan node, asserted in tests/test_plans.py)."""
    import tempfile

    from .registry import load

    ev = load(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_parted_")
    write_partitioned(ev, path, granularity="day")
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 15)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("day_events"),
            F.countDistinct("user_id").alias("day_users"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")).cast("double"), 4)
                .alias("day_value"),
        )
    )


_EVO_CUT = "2024-01-24 00:00:00"  # pre/post-evolution generation split


def partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION SPEC EVOLUTION (Iceberg's headline metadata trick): the
    table's early files were written UNPARTITIONED; later files adopt the
    Hive day= spec. Evolution is metadata-only — nobody rewrites the old
    files — so one logical table spans two physical layouts, and a
    day-scoped query must (a) partition-PRUNE the post-evolution
    generation via the spec columns while (b) data-FILTERING the
    pre-evolution generation via pushed ts predicates. That split is
    exactly what this entry executes and reports, one aggregate per
    generation; tests/test_plans.py asserts PartitionFilters on the new
    generation and PushedFilters on the legacy one.

    Scale: the legacy generation's cost decays as compaction/expiry
    retire old files into the new spec; meanwhile its scans still push
    ts to the parquet footers (row-group skipping) — degraded pruning,
    not a full scan."""
    import tempfile

    from .registry import load

    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(_EVO_CUT))
    base = tempfile.mkdtemp(prefix="events_evo_")
    legacy_path, parted_path = f"{base}/legacy", f"{base}/parted"
    ev.filter(F.col("ts") < cut).coalesce(4).write.mode("overwrite").parquet(
        legacy_path
    )
    write_partitioned(ev.filter(F.col("ts") >= cut), parted_path, granularity="day")

    legacy_day = (
        spark.read.parquet(legacy_path)
        .filter(
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-15 00:00:00")))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-16 00:00:00")))
        )
        .select(F.lit("pre-evolution").alias("generation"), "event_type", "user_id")
    )
    hot_day = (
        spark.read.parquet(parted_path)
        .filter(
            (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 25)
        )
        .select(F.lit("post-evolution").alias("generation"), "event_type", "user_id")
    )
    return (
        legacy_day.unionByName(hot_day)
        .groupBy("generation", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+load — the OTHER splittable columnar format Spark ships
    natively (what a lakehouse ingests from Hive-era pipelines): events →
    ``.write.orc`` → re-read → per-type aggregate spanning every scalar
    type class (counts, distinct keys, timestamp bounds, a decimal-exact
    double sum), so a type mangle anywhere in the ORC path — timestamp
    precision, double bits, string encoding — breaks the compare.

    Scale: ORC is splittable + predicate-pushdown-capable like parquet,
    so the read parallelizes identically; this entry certifies FORMAT
    fidelity (the ingest-ORC-drops path), not pruning — the skipping
    story lives with the parquet entries."""
    import tempfile

    from .registry import load

    ev = load(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_orc_")
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,8)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# Deterministic adversarial rows (the text_redact_pii injection
# precedent): the corpus text is [ -~]-clean, so JSONL's escaping layer
# (\n, \t, \", \\, non-ASCII) would otherwise go uncertified. Injected
# on the Spark side AND re-stated as literals in the oracle, both
# generated from this one tuple.
JSONL_ADVERSARIAL = (
    (-1, "line one\nline two\n\ttabbed end", "xx", "inject"),
    (-2, 'quote " backslash \\ slash / end', "xx", "inject"),
    (-3, "unicode é 漢字 \U0001f389 end", "xx", "inject"),
)


def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LINES interchange round-trip — the format every corpus
    release actually ships (C4, The Pile, Dolma, RedPajama are JSONL):
    documents + injected escape-adversarial rows → ``.write.json`` →
    re-read with the EXPLICIT schema → per-language fidelity aggregate
    (doc/distinct-text counts, code-point length sums, id sums). A
    single mangled escape, lost line, or mis-typed field breaks the
    compare; the injected rows force the escaper through newline, tab,
    quote, backslash, and non-BMP unicode.

    Scale: JSONL is line-splittable, so the read parallelizes like any
    text source; the explicit schema matters at 100 TB — omitting it
    costs a FULL extra inference pass over the corpus before the real
    scan (and silently widens types on dirty rows). Uncompressed/zstd
    files stay splittable; a gzip JSONL drop does not — one task per
    file (why releases shard to many files)."""
    import tempfile

    from .registry import load, local_frame

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = load(spark, sf_dir, "documents").select(*cols)
    adv = local_frame(
        spark,
        [(i, t, l, s, len(t)) for i, t, l, s in JSONL_ADVERSARIAL],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = tempfile.mkdtemp(prefix="docs_jsonl_")
    docs.unionByName(adv).write.mode("overwrite").json(path)
    back = spark.read.schema(docs.schema).json(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_texts"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.sum("n_chars").alias("sum_n_chars"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


def _jsonl_adversarial_values() -> str:
    """The injected rows as DuckDB literals — newline/tab spliced via
    chr() so the SQL text stays single-line-safe, quotes doubled."""
    rows = []
    for i, t, l, s in JSONL_ADVERSARIAL:
        # standard SQL strings: only the quote needs doubling (DuckDB
        # does not backslash-escape); control chars spliced via chr()
        lit = (
            t.replace("'", "''")
            .replace("\n", "' || chr(10) || '")
            .replace("\t", "' || chr(9) || '")
        )
        rows.append(
            f"(CAST({i} AS BIGINT), '{lit}', '{l}', '{s}', "
            f"CAST({len(t)} AS BIGINT))"
        )
    return ", ".join(rows)


_AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"
# Spark bundles the Avro source classes inside spark-sql since 4.x, but
# this distribution does not ServiceLoader-register the short name
# ("avro" raises DATA_SOURCE_NOT_FOUND with the legacy external-module
# hint even though the class is on the classpath) — the fully-qualified
# provider resolves on any Spark that carries the classes, so the entry
# uses it directly; avro_format() prefers the short name when it works.


def avro_format(spark: SparkSession) -> str | None:
    """The usable Avro DataSource name for this session: the short name
    when ServiceLoader-registered (a deployment with the external
    spark-avro module), else the bundled fully-qualified provider, else
    None (truly absent)."""
    for fmt in ("avro", _AVRO_FORMAT):
        try:
            spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                fmt, spark._jsparkSession.sessionState().conf()
            )
            return fmt
        except Exception:
            continue
    return None


def avro_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink+load — the row-oriented interchange format of the
    Kafka/schema-registry world, closing the format matrix next to
    parquet, CSV, JSONL, and ORC: events → ``.write.format(avro)`` →
    re-read → the exact per-type fidelity aggregate
    :func:`orc_roundtrip_events` uses (shared oracle), so a
    timestamp-precision, double-bit, or string mangle in the Avro
    encoder breaks the compare. Avro stores timestamps as micros
    logical types — the same precision contract the snapshot layer
    pins for parquet footers.

    Scale: Avro files are block-splittable (sync markers), so the read
    parallelizes; as a ROW format it reads every column regardless of
    projection — the entry certifies interchange fidelity (the
    Kafka-archive ingest path), while columnar scans stay the analytic
    default."""
    import tempfile

    from .registry import load

    fmt = avro_format(spark)
    if fmt is None:  # pragma: no cover - every Spark 4 build bundles it
        raise NotImplementedError(
            "no Avro DataSource on the classpath — see SCALE.md"
        )
    ev = load(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_avro_")
    ev.write.mode("overwrite").format(fmt).save(path)
    back = spark.read.format(fmt).load(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,8)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


QUERIES = {
    "csv_roundtrip_profiles": csv_roundtrip_profiles,
    "hot_tier_ctas": hot_tier_ctas,
    "partition_pruned_scan": partition_pruned_scan,
    "partition_evolution_scan": partition_evolution_scan,
    "jsonl_roundtrip_documents": jsonl_roundtrip_documents,
    "orc_roundtrip_events": orc_roundtrip_events,
    "avro_roundtrip_events": avro_roundtrip_events,
}

ORACLE = {
    "csv_roundtrip_profiles": """
        SELECT r_name AS region, c_mktsegment AS segment, COUNT(*) AS n_users,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,8))) AS DOUBLE), 2)
                   AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, c_mktsegment
    """,
    "hot_tier_ctas": """
        SELECT event_type, COUNT(*) AS hot_events,
               COUNT(DISTINCT user_id) AS hot_users
        FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        GROUP BY event_type
    """,
    "partition_pruned_scan": """
        SELECT event_type, COUNT(*) AS day_events,
               COUNT(DISTINCT user_id) AS day_users,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 4)
                   AS day_value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
          AND ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY event_type
    """,
    "partition_evolution_scan": """
        SELECT 'pre-evolution' AS generation, event_type,
               COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
          AND ts < TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY event_type
        UNION ALL
        SELECT 'post-evolution', event_type,
               COUNT(*), COUNT(DISTINCT user_id)
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
          AND ts < TIMESTAMP '2024-01-26 00:00:00'
        GROUP BY event_type
    """,
}

ORACLE["jsonl_roundtrip_documents"] = f"""
    WITH all_docs AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_jsonl_adversarial_values()})
            t(doc_id, text, lang, source, n_chars)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct_texts,
           CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM all_docs GROUP BY lang ORDER BY lang
"""

ORACLE["orc_roundtrip_events"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(MIN(ts) AS TIMESTAMP) AS ts_min,
           CAST(MAX(ts) AS TIMESTAMP) AS ts_max,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 4)
               AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""

# the Avro twin runs the identical fidelity aggregate — one oracle text
ORACLE["avro_roundtrip_events"] = ORACLE["orc_roundtrip_events"]
