"""Driver-environment parity probes (round-8 addition, per the r7 verdict).

Round 7 exposed a blind spot: three gate entries passed the local
Spark-vs-DuckDB oracle at every scale factor yet failed the driver's
value-hash — an engine/version delta the repo had no way to observe. These
probes make the CORRECTNESS file itself carry the diagnosis: each entry
isolates ONE cross-engine fragility class on tiny SYNTHETIC relations
(independent of the test data, so a red row implicates the engine pair,
never the corpus), and the failing entry's NAME localizes the class:

- ``parity_probe_hexcast``   — the 60-bit md5-prefix hash device
  (``conv(substr(md5…),16,10)`` ↔ ``CAST('0x…' AS BIGINT)``) used by every
  deterministic-sampling/dedup operator.
- ``parity_probe_round_half`` — ``ROUND(double, 6)`` at exact-binary and
  near-decimal half boundaries: Spark rounds the exact BigDecimal of the
  binary double HALF_UP; DuckDB's float path multiplies by 10^6 first.
  This is the class that made ``quality_filter_funnel`` driver-red in r7.
- ``parity_probe_window_runsum`` — the lang-partitioned
  running-sum-over-hash-order window contract shared by the quota-fill
  pair (pure integer arithmetic, so any mismatch is the window/order
  semantics, not numerics).
- ``parity_probe_ln_round`` — ``ROUND(-ln(x), 6)``: libm vs JVM ``ln``
  agreement after the decimal-round recipe every LM-scoring operator
  (BM25, unigram, DSIR) relies on.

All four are green on the local engine pair (pyspark 4.1.2 / duckdb
1.0.0 — values recorded in ROUND8_NOTES.md); if a driver round ever shows
one red, the class — and therefore the fix — is identified without a
reproduction loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import local_frame

# Imported from the canonical module (not a copy): the probes must
# exercise the exact expression the operators use, so a device change
# propagates here by construction.
from .hashing import _DUCK_H, _SPARK_H


def parity_probe_hexcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten sentinel strings through the portable 60-bit md5-prefix hash."""
    return spark.range(0, 10).select(
        F.col("id"),
        F.expr(
            _SPARK_H.format(expr="concat('sentinel-', cast(id as string))")
        ).alias("h"),
        (
            F.expr(
                _SPARK_H.format(expr="concat('sentinel-', cast(id as string))")
            )
            % 100
        ).alias("h_mod_100"),
    )


# (id, numerator, denominator): quotients that sit exactly ON a 6-dp half
# boundary as binary doubles (1/128 = 0.0078125, 3/256, 5/512, 1/2048),
# decimal half boundaries that are NOT binary-exact (…5/10^7), and two
# benign controls. If Spark and DuckDB ever disagree on ROUND(double, 6),
# it is at inputs like these.
_ROUND_CASES = (
    (0, 1, 128),
    (1, 3, 256),
    (2, 5, 512),
    (3, 1, 2048),
    (4, 1234565, 10000000),
    (5, 999995, 10000000),
    (6, 25, 10000000),
    (7, 15, 10000000),
    (8, 1, 3),
    (9, 2, 7),
)


def parity_probe_round_half(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, list(_ROUND_CASES), "id long, num long, den long")
    x = F.col("num").cast("double") / F.col("den").cast("double")
    return df.select(
        "id",
        "num",
        "den",
        F.round(x, 6).alias("r6"),
        F.round(x * 1000, 3).alias("r3_scaled"),
    )


def parity_probe_window_runsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quota-fill window shape on synthetic integers: per-group
    exclusive running sum in (md5-hash, id) order."""
    from pyspark.sql import Window

    base = spark.range(0, 100).select(
        "id",
        F.expr("chr(97 + cast(id % 3 as int))").alias("grp"),
        ((F.col("id") * 37) % 101).alias("n"),
        F.expr(_SPARK_H.format(expr="cast(id as string)")).alias("h"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("h", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.withColumn(
        "prior_n", F.coalesce(F.sum("n").over(w), F.lit(0))
    )


def parity_probe_ln_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUND(-ln(i/1000), 6) for i in 1..20 — the LM-scoring recipe's
    transcendental+round step in isolation."""
    x = F.col("id").cast("double") / F.lit(1000.0)
    return spark.range(1, 21).select(
        "id", F.round(-F.log(x), 6).alias("neg_ln_r6")
    )


QUERIES = {
    "parity_probe_hexcast": parity_probe_hexcast,
    "parity_probe_round_half": parity_probe_round_half,
    "parity_probe_window_runsum": parity_probe_window_runsum,
    "parity_probe_ln_round": parity_probe_ln_round,
}

_H_SENTINEL = _DUCK_H.format(expr="concat('sentinel-', CAST(id AS VARCHAR))")
_ROUND_VALUES = ", ".join(f"({i}, {n}, {d})" for i, n, d in _ROUND_CASES)

ORACLE = {
    "parity_probe_hexcast": f"""
        SELECT id, {_H_SENTINEL} AS h, {_H_SENTINEL} % 100 AS h_mod_100
        FROM range(0, 10) AS t(id)
    """,
    "parity_probe_round_half": f"""
        SELECT CAST(id AS BIGINT) AS id, CAST(num AS BIGINT) AS num,
               CAST(den AS BIGINT) AS den,
               ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r6,
               ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000, 3)
                   AS r3_scaled
        FROM (VALUES {_ROUND_VALUES}) AS t(id, num, den)
    """,
    "parity_probe_window_runsum": f"""
        SELECT id, grp, n, h,
               CAST(COALESCE(SUM(n) OVER (
                    PARTITION BY grp ORDER BY h, id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS prior_n
        FROM (
            SELECT id, chr(97 + CAST(id % 3 AS INT)) AS grp,
                   (id * 37) % 101 AS n,
                   {_DUCK_H.format(expr="CAST(id AS VARCHAR)")} AS h
            FROM range(0, 100) AS t(id)
        )
    """,
    "parity_probe_ln_round": """
        SELECT id, ROUND(-ln(CAST(id AS DOUBLE) / 1000.0), 6) AS neg_ln_r6
        FROM range(1, 21) AS t(id)
    """,
}
