"""Plan inspection + query metrics (SURVEY §2.14 H1-H3).

The reference's harness pulls engine metrics from Snowflake's
``query_history`` (RPT:83-123). Spark-side, the equivalents are the
formatted physical plan (pushdown/broadcast/codegen checks) and the
observable metrics below — used both by tests (plan-shape assertions: the
100 TB discipline) and by ``bench.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.registry import local_frame

__all__ = [
    "formatted_plan",
    "has_pushed_filters",
    "has_partition_filters",
    "has_broadcast_join",
    "codegen_stage_count",
    "shuffle_count",
]


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the scan carries a pushed filter mentioning ``fragment`` —
    i.e. the predicate reached Parquet instead of being a post-scan Filter."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line and "[]" not in line:
            return True
    return False


def has_partition_filters(df: DataFrame, fragment: str) -> bool:
    """True if the scan prunes Hive partitions on ``fragment`` — the
    predicate is resolved against directory names at planning time and
    non-matching files are never listed into the scan."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters" in line and fragment in line and ": []" not in line:
            return True
    return False


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen span count in the final (post-AQE) physical plan.

    Executes ``df`` — AQE only materializes the real stages (with their
    codegen annotation) at runtime; ``.count()`` would execute a different
    plan and leave this one unfinalized."""
    import re

    df.collect()
    plan = str(df._jdf.queryExecution().executedPlan())
    # codegen spans print as '*(N) Operator' in the final plan tree
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def execution_metrics(df: DataFrame, executed: bool = False) -> dict:
    """Per-query engine metrics (H2 — RPT:83-123 parity): after executing
    ``df``, walk the finalized physical plan and total the scan and
    exchange SQLMetrics. The Spark-side equivalent of Snowflake's
    ``query_history`` columns (bytes scanned, rows produced, shuffle
    traffic). Pass ``executed=True`` when the caller already ran the query
    (metrics read the finalized AQE plan without re-executing)."""
    if not executed:
        df.collect()
    out = {
        "scan_output_rows": 0,
        "scan_files_read": 0,
        "scan_bytes_read": 0,
        "shuffle_bytes_written": 0,
    }

    def walk(node):
        name = node.nodeName()
        vals = {}
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
        except Exception:
            pass
        if "Scan" in name:
            out["scan_output_rows"] += vals.get("numOutputRows", 0)
            out["scan_files_read"] += vals.get("numFiles", 0)
            out["scan_bytes_read"] += vals.get("filesSize", 0)
        out["shuffle_bytes_written"] += vals.get(
            "shuffleBytesWritten", vals.get("shuffle bytes written", 0)
        )
        # AQE wrappers hide the materialized subtree: AdaptiveSparkPlanExec
        # behind executedPlan(), QueryStageExec nodes behind plan() — and
        # their children() is empty, so descend through the wrapper attrs
        for attr in ("executedPlan", "plan"):
            try:
                sub = getattr(node, attr)()
                sub.nodeName()  # prove it's a plan node
            except Exception:
                continue
            walk(sub)
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception:
        pass  # metrics are advisory; never fail the caller
    return out


# Cost proxy for the reference's per-query credit accounting
# (run_performance_tests.py:104-119 reads credits_used_cloud_services +
# bytes_scanned from query_history). Spark has no billing meter, so cost =
# compute-seconds: occupied cores × wall-clock. The credit conversion pins
# an XS warehouse (1 credit/hr, 8 cores) as the unit — the same yardstick
# BASELINE.md's numbers were bought with — so local runs and a 1000-core
# cluster report comparable spend.
CREDITS_PER_CORE_HOUR = 1.0 / 8.0


def estimate_credits(elapsed_sec: float, n_cores: int) -> float:
    return round(elapsed_sec / 3600.0 * n_cores * CREDITS_PER_CORE_HOUR, 9)


class QueryLog:
    """S12/H2 parity: the engine-side query history the reference reads
    from ``snowflake.account_usage.query_history``
    (performance_comparison.sql:181-192; run_performance_tests.py:83-123).
    Each ``run`` records name, wall-clock, rows, bytes scanned, shuffle
    traffic, the credit-proxy cost, and status — queryable afterwards as
    a DataFrame, exactly the columns the reference's harness selects."""

    def __init__(self):
        self._rows: list[tuple] = []

    def run(self, name: str, df: DataFrame) -> int:
        import time

        t0 = time.perf_counter()
        try:
            n = len(df.collect())
        except Exception as ex:  # RPT:67-79 ERROR rows
            self._rows.append(
                (name, -1, 0.0, 0, 0, 0.0, "ERROR", type(ex).__name__)
            )
            return -1
        elapsed = round(time.perf_counter() - t0, 3)
        m = execution_metrics(df, executed=True)
        cores = df.sparkSession.sparkContext.defaultParallelism
        self._rows.append(
            (
                name,
                n,
                elapsed,
                int(m["scan_bytes_read"]),
                int(m["shuffle_bytes_written"]),
                estimate_credits(elapsed, cores),
                "SUCCESS",
                None,
            )
        )
        return n

    def history(self, spark) -> DataFrame:
        return local_frame(
            spark,
            self._rows,
            "query_name string, row_count long, elapsed_sec double,"
            " bytes_scanned long, shuffle_bytes long, est_credits double,"
            " status string, error string",
        )


def query_history(spark, sf_dir: str) -> DataFrame:
    """Driver-gate: run a mini-suite through the log (RPT's harness shape),
    return the deterministic columns (timings excluded from the compare)."""
    from ..operators.relational import (
        count_all,
        event_type_counts,
        filtered_counts_7d,
    )

    log = QueryLog()
    for name, fn in (
        ("count_all", count_all),
        ("filtered_counts_7d", filtered_counts_7d),
        ("event_type_counts", event_type_counts),
    ):
        log.run(name, fn(spark, sf_dir))
    return log.history(spark).select("query_name", "row_count", "status")


QUERIES = {"query_history": query_history}

ORACLE = {
    "query_history": """
        SELECT 'count_all' AS query_name, 1 AS row_count, 'SUCCESS' AS status
        UNION ALL
        SELECT 'filtered_counts_7d', 1, 'SUCCESS'
        UNION ALL
        SELECT 'event_type_counts',
               (SELECT COUNT(DISTINCT event_type) FROM events), 'SUCCESS'
    """,
}


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan — the scale
    currency. Matches detail headers only ('(n) Exchange'), so broadcast
    exchanges and the duplicated tree section don't inflate the count."""
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", formatted_plan(df)))
