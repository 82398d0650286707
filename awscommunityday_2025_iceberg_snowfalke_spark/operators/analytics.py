"""Analytic extensions beyond the reference corpus (SURVEY §2.5 note).

The reference's window surface stops at ROW_NUMBER/LAG with default frames
(performance_comparison.sql:164-172; run_performance_tests.py:199-243). A
user of a real warehouse expects the full rank family, explicit frames,
multi-dimensional aggregates (ROLLUP/CUBE) and pivots — all built-in Spark,
all oracle-checkable, so they live here as first-class `queries()` entries.

Scale notes:
- Every window here partitions by `user_id`: one hash exchange, in-partition
  sort, no global ordering. Frames are ROWS-bounded → O(frame) per row with
  Spark's sliding aggregation, no per-row rescan.
- ROLLUP/CUBE expand grouping sets map-side (Spark's Expand node) before one
  exchange — no repeated scans of the fact table.
- The pivot uses an explicit value list: no extra collect-distinct job, and
  the output schema is stable for the driver's comparison.
- Float aggregates go through DECIMAL (see functions.det_sum rationale) so
  results are partition-order independent — required for the oracle compare
  and the right money semantics at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load, local_frame
from ..stage import stage

_DEC = "decimal(28,8)"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- rank family under ties (RANK / DENSE_RANK are tie-stable) ---------------
def event_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"))
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.col("value").cast(_DEC), 4).cast("double").alias("value"),
            F.rank().over(w).alias("value_rank"),
            F.dense_rank().over(w).alias("value_dense_rank"),
        )
        .filter(F.col("value_rank") <= 10)
    )


# --- LEAD + NTILE over a total per-user ordering -----------------------------
def event_lead_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lead("event_type").over(w).alias("next_event"),
        F.ntile(4).over(w).alias("session_quartile"),
    )


# --- sliding-frame moving aggregate (ROWS BETWEEN 6 PRECEDING) ---------------
def moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    win_sum = F.sum(F.col("value").cast(_DEC)).over(w)
    win_cnt = F.count(F.lit(1)).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round((win_sum / win_cnt).cast("double"), 4).alias("moving_avg_7"),
    )


# --- RANGE-interval frame: trailing-hour event rate per user ------------------
def rolling_1h_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (the value-based window family, vs the
    row-count frames above): for every event, how many events the same
    user produced in the trailing hour. Spark's rangeBetween needs a
    numeric ordering column, so the frame runs over epoch seconds —
    identical semantics to duckdb's ``RANGE INTERVAL 1 HOUR PRECEDING``
    (micros truncate to whole seconds identically on both sides). Same
    user_id exchange as every other per-user window — shares partitioning
    at scale."""
    ev = load(spark, sf_dir, "events")
    sec = F.expr("unix_seconds(CAST(ts AS TIMESTAMP))")  # NTZ-safe
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        ev.select("user_id", "event_id", sec.alias("sec"))
        .withColumn("events_last_hour", F.count(F.lit(1)).over(w))
        .select("user_id", "event_id", "events_last_hour")
    )


# --- running (cumulative) total per user -------------------------------------
def running_total_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast(_DEC)).over(w).cast("double"), 4).alias(
            "running_value"
        ),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("event_seq"),
    )


# --- ROLLUP over (region-less) event dimensions ------------------------------
def rollup_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
        .rollup("event_type", "event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("event_date", F.lit("ALL")).alias("event_date"),
            "n_events",
            "total_value",
        )
    )


# --- CUBE over (event_type, value-band) --------------------------------------
def cube_type_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "value_band",
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high"),
    )
    return (
        ev.cube("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("value_band", F.lit("ALL")).alias("value_band"),
            "n_events",
        )
    )


# --- GROUPING SETS (arbitrary grouping combinations) -------------------------
def grouping_sets_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with an EXPLICIT set list — ((type, dow), (type),
    (dow)) but NOT the grand total: the case ROLLUP/CUBE can't express
    (rollup is prefix-closed, cube is the full lattice; Snowflake and
    Spark both expose the arbitrary-list clause, and this completes the
    multi-dim grouping family next to `rollup_type_daily` /
    `cube_type_band`). `grouping_id()` disambiguates which set produced a
    row — the contract consumers pivot on, and it distinguishes a real
    NULL group key from a rolled-up one.

    dow is emitted Sunday=0 in BOTH engines (Spark dayofweek() is 1-based
    Sunday-start, DuckDB EXTRACT(dow) 0-based — the −1 shim is the only
    delta). Like rollup/cube this compiles to ONE Expand + one exchange —
    each input row is replicated per grouping set map-side and aggregated
    in a single pass; no per-set scan, no union of subqueries."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.dayofweek("ts") - 1).alias("dow"),
        F.col("value").cast(_DEC).alias("v"),
    )
    return (
        base.groupingSets(
            [["event_type", "dow"], ["event_type"], ["dow"]],
            "event_type",
            "dow",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("v").cast("double"), 2).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "gid",
            "n_events",
            "total_value",
        )
    )


# --- FULL OUTER reconciliation (completes the join-type matrix) --------------
def daily_purchase_signup_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchases vs signups, FULL OUTER joined on day — the
    reconciliation shape (neither side may drop days the other has). Both
    sides pre-aggregate to |days| rows before the join, so the full-outer
    SMJ touches tiny inputs regardless of fact size."""
    ev = load(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("purchases"))
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("signups"))
    )
    return (
        p.join(s, "event_date", "full_outer")
        .select(
            "event_date",
            F.coalesce("purchases", F.lit(0)).alias("purchases"),
            F.coalesce("signups", F.lit(0)).alias("signups"),
        )
        .orderBy("event_date")
    )


# --- GROUPING SETS (disjoint rollups in one Expand pass) ---------------------
def grouping_sets_type_or_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts by event_type and, separately, by day — one scan, one Expand,
    one exchange (vs two scans for two GROUP BYs + union). Distinct shape
    from ROLLUP/CUBE: the sets are disjoint, no grand-total row implied."""
    ev = load(spark, sf_dir, "events")
    ev.withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    ).createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(event_date, 'ALL') AS event_date,
               COUNT(*) AS n_events
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (event_date))
        """
    )


# --- PIVOT event_type → columns (explicit domain, no discovery job) ----------
def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 2))
    )
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0.0)).alias(f"{t}_value") for t in EVENT_TYPES
    ]
    return piv.select(*cols)


# --- unpivot (the wide→long inverse of the pivot) ----------------------------
def unpivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: the wide per-user pivot table melted back to long
    (user_id, event_type, total_value) — the other half of the
    pivot/unpivot pair a warehouse user expects (Snowflake has both as
    first-class clauses; Spark 3.4+ has ``DataFrame.unpivot``). Zero-sum
    cells (absent combinations re-materialized by the pivot's COALESCE)
    are dropped on both engines so the long form round-trips the original
    sparse relation. Plan: the melt is a map-side Expand over the pivot
    output — no additional shuffle beyond the pivot's own agg."""
    piv = pivot_user_event_values(spark, sf_dir)
    long = piv.unpivot(
        ids=["user_id"],
        values=[f"{t}_value" for t in EVENT_TYPES],
        variableColumnName="event_col",
        valueColumnName="total_value",
    )
    return long.filter(F.col("total_value") != 0.0).select(
        "user_id",
        F.expr("replace(event_col, '_value', '')").alias("event_type"),
        "total_value",
    )


# --- deterministic distribution statistics -----------------------------------
def value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stddev and corr(value, hour-of-day) assembled from exact
    DECIMAL component sums (n, Σx, Σx², Σy, Σy², Σxy). Native stddev/corr
    fold doubles in partition order — nondeterministic on a cluster; the
    decimal moments are associative, so any partitioning gives the same
    bits, and the final formula is identical IEEE arithmetic on both
    engines. One map-side-combinable pass."""
    ev = load(spark, sf_dir, "events")
    x = F.col("value")
    y = F.hour("ts").cast("double")
    dec = lambda c: c.cast("decimal(38,8)")  # noqa: E731
    comp = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(x)).alias("sx"),
            F.sum(dec(x * x)).alias("sxx"),
            F.sum(dec(y)).alias("sy"),
            F.sum(dec(y * y)).alias("syy"),
            F.sum(dec(x * y)).alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_x = (n * sxx - sx * sx) / (n * n)
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return comp.select(
        "event_type",
        "n",
        F.sqrt(var_x).alias("stddev_value"),
        corr.alias("corr_value_hour"),
    ).orderBy("event_type")


# --- one-pass table profile (the ANALYZE/data-quality pass) ------------------
def table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile in ONE scan: counts, nulls, exact distincts, min/max
    per column, emitted as rows. At 100 TB the distincts flip to
    approx_count_distinct (documented variant, rows-only check) — exact
    multi-column COUNT(DISTINCT) expands the aggregate; everything else is
    a single map-side-combinable pass."""
    ev = load(spark, sf_dir, "events")
    prof = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("user_id").alias("user_id_nonnull"),
        F.countDistinct("user_id").alias("user_id_distinct"),
        F.min("user_id").alias("user_id_min"),
        F.max("user_id").alias("user_id_max"),
        F.countDistinct("event_type").alias("event_type_distinct"),
        F.min("event_type").alias("event_type_min"),
        F.max("event_type").alias("event_type_max"),
        F.round(F.min("value").cast("decimal(28,8)"), 4).cast("double").alias(
            "value_min"
        ),
        F.round(F.max("value").cast("decimal(28,8)"), 4).cast("double").alias(
            "value_max"
        ),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_min"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_max"),
    )
    return prof


# --- declarative data-quality expectations (one-pass audit) ------------------
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-gate data quality: a rule set (not-null, uniqueness, domain
    membership, range, freshness window) evaluated in ONE scan — each rule
    is a conditional aggregate, so the audit costs one map-side-combinable
    pass regardless of rule count (uniqueness adds the countDistinct
    expand). Output: one row per rule with violation count and verdict —
    the shape a curation pipeline gates on before publishing a snapshot."""
    ev = load(spark, sf_dir, "events")
    viol = ev.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0)).alias(
            "v_event_id_not_null"
        ),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("v_event_id_unique"),
        F.sum(
            F.when(
                ~F.col("event_type").isin("click", "error", "purchase", "signup", "view"),
                1,
            ).otherwise(0)
        ).alias("v_event_type_domain"),
        F.sum(F.when(~(F.col("value") > 0), 1).otherwise(0)).alias(
            "v_value_positive"
        ),
        F.sum(
            F.when(
                ~F.col("ts").between(
                    F.to_timestamp(F.lit("2024-01-01 00:00:00")),
                    F.to_timestamp(F.lit("2024-01-31 00:00:00")),
                ),
                1,
            ).otherwise(0)
        ).alias("v_ts_in_window"),
    )
    rules = [
        ("event_id_not_null", "v_event_id_not_null"),
        ("event_id_unique", "v_event_id_unique"),
        ("event_type_in_domain", "v_event_type_domain"),
        ("value_positive", "v_value_positive"),
        ("ts_in_window", "v_ts_in_window"),
    ]
    stack = ", ".join(f"'{name}', {col}" for name, col in rules)
    return viol.selectExpr(
        "total", f"stack({len(rules)}, {stack}) AS (rule, violations)"
    ).selectExpr(
        "rule",
        "CAST(violations AS BIGINT) AS violations",
        "total AS total_rows",
        "violations = 0 AS passed",
    )


# --- skew diagnostics: heaviest join keys ------------------------------------
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest user_id keys with their share of all rows — the
    pre-join skew check that decides between plain shuffle, AQE skew split,
    and scale.salted_join. Count + global-window share + top-k: the window
    runs over 10 pre-aggregated rows, not the fact."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    # total BEFORE the top-k cut (share is of all rows); the unpartitioned
    # window sees only the small per-key aggregate
    total = F.sum("n").over(Window.partitionBy())
    return (
        counts.withColumn("_tot", total)
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("_tot") * 100, 4).alias("pct_of_rows"),
        )
        .orderBy(F.desc("n"), "user_id")
    )


# --- mergeable HLL sketches (the incremental-rollup pattern at 100 TB) -------
def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users via Apache DataSketches HLL, then the monthly
    total by UNIONING the stored daily sketches — no second scan of the
    facts. This is the mergeable-sketch contract a 100 TB rollup needs:
    COUNT(DISTINCT) cannot re-aggregate (union of per-day exacts
    overcounts), but sketches compose associatively, so a materialized
    daily layer answers any date-range distinct query by merging ~30
    sketch blobs instead of rescanning the month. Estimates are
    engine-specific, so the gate row carries exact counts (oracle-checkable)
    plus an in-engine ``est_ok`` boolean asserting the sketch estimate is
    within 5% of exact — including for the 'ALL' row, whose estimate comes
    purely from merging the stored daily sketches. The exact month-wide
    distinct (one extra scan) exists for the gate only; production answers
    range queries from the sketch layer alone."""
    ev = load(spark, sf_dir, "events")
    # sketch agg and COUNT(DISTINCT) deliberately in SEPARATE aggregations:
    # a distinct aggregate triggers the expand rewrite, and a
    # TypedImperative sketch buffer (hll_sketch_agg, percentile_approx)
    # inside the expanded stream drops to SortAggregate with per-row
    # buffer ser/de — measured ~1.5-10x slower across this corpus. The
    # exact column is gate-only instrumentation anyway; production runs
    # the sketch pass alone (one scan).
    day = F.to_date("ts").alias("event_date")
    daily_sk = ev.groupBy(day).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    ).join(
        ev.groupBy(day).agg(F.countDistinct("user_id").alias("exact_users")),
        "event_date",
    )
    # the materialized daily layer (sketch blobs, binary parquet column);
    # reused by both the per-day report and the merge — computed once,
    # disk-staged (see stage.py) exactly like a real stored rollup layer
    daily_sk = stage(daily_sk)
    per_day = daily_sk.select(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
        "exact_users",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_ok"),
    )
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    total = (
        daily_sk.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(exact_total))  # two 1-row sides
        .select(
            F.lit("ALL").alias("event_date"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_ok"),
        )
    )
    return per_day.unionByName(total)


# --- mergeable quantile sketch layer ------------------------------------------
QSK_BIN_CAP = 1023  # frozen spec: bin = min(floor(value), CAP) — 1024 counters
QSK_QUANTILES = (0.5, 0.9, 0.99)


def _merged_histogram(
    store: DataFrame, values: DataFrame, part_col: str, what: str
) -> tuple[list, int]:
    """``(bins, n_parts)`` of a mergeable fixed-bin histogram sketch:
    ``store`` holds per-part (``part_col``, ``bin``, ``c``) histograms,
    ``values`` the raw ``bin`` column they summarize. The mergeability
    contract — the stored parts summed per bin equal a direct one-pass
    histogram of ``values`` — is checked on the driver: one tagged union
    collects both bounded histograms (≤ 1024 rows each) plus the number
    of distinct parts in a single job, and the two dicts must be equal
    (identical to exceptAll-empty both ways on unique bin keys). Returns
    the merged histogram as ascending (bin, count) pairs."""

    def _tag(df, t):
        return df.select(
            F.lit(t).alias("t"),
            F.col("bin").cast("long").alias("k"),
            F.col("c").cast("long").alias("v"),
        )

    merged = store.groupBy("bin").agg(F.sum("c").alias("c"))
    direct = values.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    parts = store.agg(F.countDistinct(part_col).cast("long").alias("v")).select(
        F.lit("n").alias("t"), F.lit(-1).cast("long").alias("k"), "v"
    )
    hist: dict = {"m": {}, "d": {}}
    n_parts = 0
    for r in (
        _tag(merged, "m").unionByName(_tag(direct, "d")).unionByName(parts)
    ).collect():
        if r["t"] == "n":
            n_parts = int(r["v"])
        else:
            hist[r["t"]][int(r["k"])] = int(r["v"])
    if hist["m"] != hist["d"]:
        raise RuntimeError(f"{what} diverges from the direct histogram")
    return sorted(hist["m"].items()), n_parts


def quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE layer — the fourth member of the sketch family
    (``hll_user_rollup`` = distinct, ``approx_topk_users`` = frequency,
    this = rank/quantile): per-day fixed-bin integer histograms (frozen
    spec ``bin = min(floor(value), 1023)`` — a 1024-counter sketch),
    merged by plain SUM into any date range with NO second scan of the
    facts; the merged histogram answers any quantile to ±1 bin width.
    Each gate row carries the sketch's bracket [sketch_lo, sketch_hi)
    AND the exact k-th order statistic, computed scale-safely by
    :func:`textstats._exact_rank_values`'s iterative histogram
    refinement (never a global sort) — showing how the same histogram
    idea tightens the bracket to exactness, one bounded agg per level.
    The mergeability contract itself is asserted in-engine: daily layer
    summed == one-pass direct histogram, exceptAll-empty both ways.

    Why not ``percentile_approx``: its KLL-ish buffer is engine-internal
    and not cross-engine comparable; the fixed-bin histogram is the same
    one-pass mergeable contract with an EXACT spec both engines compute
    bit-identically (integer floor + cap). The cap bin (1023) would span
    to +inf — unreached on this corpus (max value ≈ 560), and a real
    deployment re-bins when the cap fills, the same re-scale any
    fixed-range sketch does.

    Scale: the daily layer is a (day, bin)-keyed map-side-combinable agg
    (≤ 366·1024 rows/year, stored once like the HLL layer); merging any
    range is a SUM over that bounded relation; the final quantile walk
    collects ≤ 1024 counters."""
    import math

    from .textstats import _exact_rank_values

    ev = load(spark, sf_dir, "events")
    b = F.least(F.floor("value").cast("int"), F.lit(QSK_BIN_CAP)).alias("bin")
    daily = stage(
        ev.select(F.to_date("ts").alias("event_date"), b)
        .groupBy("event_date", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bins, n_days = _merged_histogram(
        daily, ev.select(b), "event_date", "daily merge"
    )
    n = sum(c for _, c in bins)

    def ranks(m: int) -> list[int]:
        return [math.ceil(q * m) for q in QSK_QUANTILES]

    exact = _exact_rank_values(
        ev.select(F.lit("all").alias("k"), "value"), "k", "value", ranks
    )
    rows = []
    for i, (q, k) in enumerate(zip(QSK_QUANTILES, ranks(n))):
        cum, blo = 0, None
        for bv, c in bins:
            cum += c
            if cum >= k:
                blo = bv
                break
        rows.append(
            (
                q,
                k,
                n,
                float(blo),
                float(blo + 1),
                float(exact[("all", i)]),
                int(n_days),
            )
        )
    return local_frame(
        spark,
        rows,
        "quantile double, target_rank long, n_rows long, sketch_lo double,"
        " sketch_hi double, exact_value double, n_days_merged int",
    ).orderBy("quantile")


# --- frequent-items sketch (approx_top_k) ------------------------------------
TOPK_SKETCH_K = 3  # boundary is tie-free at every test SF (checked)
TOPK_SKETCH_TRACKED = 262144  # sketch capacity: exact below it, ~CMS above


def approx_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection via the `approx_top_k` frequent-items
    sketch next to the exact answer — the third member of the
    approximate family (HLL distinct counts in `hll_user_rollup`,
    t-digest percentiles in `approx_distinct_users`). At 100 TB the
    sketch replaces a full user-keyed aggregation with an
    O(maxItemsTracked)-space mergeable summary — the knob trades memory
    for the count-error band. Oracle pattern per the HLL precedent: the
    exact top-k (count DESC, user_id tiebreak) is the full-value
    surface; the sketch's answers appear only inside accuracy BOOLEANS
    (found + count within 5%), which the oracle asserts. k=3 keeps the
    membership boolean deterministic: the rank-3/4 boundary is strictly
    separated at every test SF, so no tie can flip which users belong in
    the exact set."""
    ev = load(spark, sf_dir, "events")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(TOPK_SKETCH_K)
        .collect()
    )
    sk = ev.agg(
        F.expr(
            f"approx_top_k(user_id, {TOPK_SKETCH_K}, {TOPK_SKETCH_TRACKED})"
        ).alias("tk")
    ).collect()[0]["tk"]
    approx = {r["item"]: r["count"] for r in sk}
    rows = []
    for rank, r in enumerate(exact, 1):
        u, c = int(r["user_id"]), int(r["n_events"])
        found = u in approx
        ok = found and abs(approx[u] - c) * 20 <= c
        rows.append((rank, u, c, int(found), int(ok)))
    return local_frame(
        spark,
        rows,
        "rank int, user_id long, n_events long,"
        " approx_found int, approx_count_ok int",
    )


# --- distribution-position windows (PERCENT_RANK / CUME_DIST) ---------------
def event_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST per user over the (ts, event_id) total
    order — the distribution-position half of the rank family
    (rank/dense_rank live in :func:`event_rank_dense`). Both values are
    quotients of small integers ((rank−1)/(n−1), peers/n) computed as a
    single IEEE division of identical operands on every engine —
    bit-portable WITHOUT rounding, unlike ROUND(double) (the r7 class).
    One user-keyed window exchange, same partitioning as every other
    per-user window here."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


QUERIES = {
    "event_rank_dense": event_rank_dense,
    "event_percent_rank": event_percent_rank,
    "table_profile_events": table_profile_events,
    "heavy_hitter_users": heavy_hitter_users,
    "value_stats_by_type": value_stats_by_type,
    "event_lead_ntile": event_lead_ntile,
    "moving_avg_value": moving_avg_value,
    "running_total_per_user": running_total_per_user,
    "rollup_type_daily": rollup_type_daily,
    "cube_type_band": cube_type_band,
    "grouping_sets_type_dow": grouping_sets_type_dow,
    "approx_topk_users": approx_topk_users,
    "grouping_sets_type_or_day": grouping_sets_type_or_day,
    "daily_purchase_signup_reconciliation": daily_purchase_signup_reconciliation,
    "pivot_user_event_values": pivot_user_event_values,
    "unpivot_user_event_values": unpivot_user_event_values,
    "hll_user_rollup": hll_user_rollup,
    "quantile_sketch_rollup": quantile_sketch_rollup,
    "dq_expectations": dq_expectations,
    "rolling_1h_event_count": rolling_1h_event_count,
}

_ROUND_VAL = "ROUND(CAST(CAST(value AS DECIMAL(28,8)) AS DOUBLE), 4)"

ORACLE = {
    "event_percent_rank": """
        SELECT user_id, event_id,
               PERCENT_RANK() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS pct_rank,
               CUME_DIST() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id
               ) AS cume_dist
        FROM events
    """,
    "rolling_1h_event_count": """
        SELECT user_id, event_id,
               COUNT(*) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ) AS events_last_hour
        FROM events
    """,
    "dq_expectations": """
        WITH viol AS (
            SELECT COUNT(*) AS total,
                   CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_event_id_not_null,
                   COUNT(*) - COUNT(DISTINCT event_id) AS v_event_id_unique,
                   CAST(SUM(CASE WHEN event_type NOT IN
                            ('click','error','purchase','signup','view')
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_event_type_domain,
                   CAST(SUM(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END) AS BIGINT)
                       AS v_value_positive,
                   CAST(SUM(CASE WHEN ts NOT BETWEEN TIMESTAMP '2024-01-01 00:00:00'
                            AND TIMESTAMP '2024-01-31 00:00:00'
                            THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_in_window
            FROM events
        )
        SELECT rule, violations, total AS total_rows, violations = 0 AS passed
        FROM (
            SELECT total, 'event_id_not_null' AS rule, v_event_id_not_null AS violations FROM viol
            UNION ALL SELECT total, 'event_id_unique', v_event_id_unique FROM viol
            UNION ALL SELECT total, 'event_type_in_domain', v_event_type_domain FROM viol
            UNION ALL SELECT total, 'value_positive', v_value_positive FROM viol
            UNION ALL SELECT total, 'ts_in_window', v_ts_in_window FROM viol
        )
    """,
    "value_stats_by_type": """
        WITH comp AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(38,8))) AS sx,
                   SUM(CAST(value * value AS DECIMAL(38,8))) AS sxx,
                   SUM(CAST(CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)
                       AS DECIMAL(38,8))) AS sy,
                   SUM(CAST(CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)
                       * CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)
                       AS DECIMAL(38,8))) AS syy,
                   SUM(CAST(value * CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)
                       AS DECIMAL(38,8))) AS sxy
            FROM events GROUP BY event_type
        )
        SELECT event_type, n,
               sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   AS stddev_value,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS corr_value_hour
        FROM comp
    """,
    "table_profile_events": """
        SELECT COUNT(*) AS n_rows,
               COUNT(user_id) AS user_id_nonnull,
               COUNT(DISTINCT user_id) AS user_id_distinct,
               MIN(user_id) AS user_id_min,
               MAX(user_id) AS user_id_max,
               COUNT(DISTINCT event_type) AS event_type_distinct,
               MIN(event_type) AS event_type_min,
               MAX(event_type) AS event_type_max,
               CAST(ROUND(CAST(MIN(value) AS DECIMAL(28,8)), 4) AS DOUBLE)
                   AS value_min,
               CAST(ROUND(CAST(MAX(value) AS DECIMAL(28,8)), 4) AS DOUBLE)
                   AS value_max,
               STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
               STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS ts_max
        FROM events
    """,
    "heavy_hitter_users": """
        WITH counts AS (
            SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        )
        SELECT user_id, n,
               ROUND(CAST(n AS DOUBLE)
                     / (SELECT SUM(n) FROM counts) * 100, 4) AS pct_of_rows
        FROM counts
        ORDER BY n DESC, user_id
        LIMIT 10
    """,
    "event_rank_dense": f"""
        SELECT user_id, event_id, {_ROUND_VAL} AS value,
               RANK() OVER (PARTITION BY user_id ORDER BY value DESC)
                   AS value_rank,
               DENSE_RANK() OVER (PARTITION BY user_id ORDER BY value DESC)
                   AS value_dense_rank
        FROM events
        QUALIFY value_rank <= 10
    """,
    "event_lead_ntile": """
        SELECT user_id, event_id,
               LEAD(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS next_event,
               NTILE(4) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   AS session_quartile
        FROM events
    """,
    "moving_avg_value": """
        SELECT user_id, event_id,
               ROUND(CAST(
                   SUM(CAST(value AS DECIMAL(28,8))) OVER w
                   / COUNT(*) OVER w AS DOUBLE), 4) AS moving_avg_7
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "running_total_per_user": """
        SELECT user_id, event_id,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) OVER w AS DOUBLE),
                     4) AS running_value,
               ROW_NUMBER() OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS event_seq
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "rollup_type_daily": """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(event_date, 'ALL') AS event_date,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 2)
                   AS total_value
        FROM (SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS event_date, value
              FROM events)
        GROUP BY ROLLUP(event_type, event_date)
    """,
    "cube_type_band": """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(value_band, 'ALL') AS value_band,
               COUNT(*) AS n_events
        FROM (SELECT event_type,
                     CASE WHEN value < 10 THEN 'low'
                          WHEN value < 100 THEN 'mid'
                          ELSE 'high' END AS value_band
              FROM events)
        GROUP BY CUBE(event_type, value_band)
    """,
    "approx_topk_users": f"""
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS INT)
                   AS rank,
               user_id, c AS n_events,
               1 AS approx_found, 1 AS approx_count_ok
        FROM (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id)
        ORDER BY c DESC, user_id LIMIT {TOPK_SKETCH_K}
    """,
    "grouping_sets_type_dow": """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(dow, -1) AS dow,
               CAST(GROUPING(event_type, dow) AS INT) AS gid,
               COUNT(*) AS n_events,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 2)
                   AS total_value
        FROM (SELECT event_type,
                     CAST(EXTRACT(dow FROM CAST(ts AS TIMESTAMP)) AS INT)
                         AS dow,
                     value
              FROM events)
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
    """,
    "daily_purchase_signup_reconciliation": """
        SELECT COALESCE(p.event_date, s.event_date) AS event_date,
               COALESCE(p.purchases, 0) AS purchases,
               COALESCE(s.signups, 0) AS signups
        FROM (SELECT STRFTIME(ts, '%Y-%m-%d') AS event_date,
                     COUNT(*) AS purchases
              FROM events WHERE event_type = 'purchase' GROUP BY 1) p
        FULL OUTER JOIN
             (SELECT STRFTIME(ts, '%Y-%m-%d') AS event_date,
                     COUNT(*) AS signups
              FROM events WHERE event_type = 'signup' GROUP BY 1) s
          ON p.event_date = s.event_date
    """,
    "grouping_sets_type_or_day": """
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(event_date, 'ALL') AS event_date,
               COUNT(*) AS n_events
        FROM (SELECT event_type, STRFTIME(ts, '%Y-%m-%d') AS event_date
              FROM events)
        GROUP BY GROUPING SETS ((event_type), (event_date))
    """,
    "unpivot_user_event_values": """
        SELECT user_id, event_type,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 2)
                   AS total_value
        FROM events GROUP BY user_id, event_type
        HAVING ROUND(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 2)
               <> 0.0
    """,
    "pivot_user_event_values": """
        SELECT user_id,
               COALESCE(ROUND(CAST(SUM(CASE WHEN event_type = 'click'
                   THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE), 2), 0.0)
                   AS click_value,
               COALESCE(ROUND(CAST(SUM(CASE WHEN event_type = 'error'
                   THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE), 2), 0.0)
                   AS error_value,
               COALESCE(ROUND(CAST(SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE), 2), 0.0)
                   AS purchase_value,
               COALESCE(ROUND(CAST(SUM(CASE WHEN event_type = 'signup'
                   THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE), 2), 0.0)
                   AS signup_value,
               COALESCE(ROUND(CAST(SUM(CASE WHEN event_type = 'view'
                   THEN CAST(value AS DECIMAL(28,8)) END) AS DOUBLE), 2), 0.0)
                   AS view_value
        FROM events
        GROUP BY user_id
    """,
    # sketch estimates are engine-specific; the gate checks the exact
    # distincts plus the in-engine ≤5% accuracy boolean (TRUE expected)
    "hll_user_rollup": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS est_ok
        FROM events GROUP BY 1
        UNION ALL
        SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
        FROM events
    """,
}

ORACLE["quantile_sketch_rollup"] = f"""
    WITH bins AS (
        SELECT LEAST(CAST(FLOOR(value) AS INT), {QSK_BIN_CAP}) AS b,
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
            FROM tgt t JOIN cum ON cum.cumc >= t.k GROUP BY 1, 2, 3),
    ranked AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn
               FROM events),
    ex AS (SELECT t.q, r.value AS exact_value
           FROM tgt t JOIN ranked r ON r.rn = t.k)
    SELECT e.q AS quantile, e.k AS target_rank, e.n AS n_rows,
           CAST(e.blo AS DOUBLE) AS sketch_lo,
           CAST(e.blo + 1 AS DOUBLE) AS sketch_hi,
           ex.exact_value,
           (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS INT)
            FROM events) AS n_days_merged
    FROM est e JOIN ex ON ex.q = e.q
    ORDER BY quantile
"""
