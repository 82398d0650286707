"""The three workloads: op lists, one timed pass each, and their checks.

All are closed loops with one client in one process. A pass runs in a
fresh ``spark.newSession()``, so the engine's session-keyed memo caches
(shingle index, LSH candidates, IVF store, ...) are rebuilt inside the
timed pass, as a user of a new session pays them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

import gen
from spans import LAYER_FIELDS, layer_totals

# Engine modules that own the query ops: an op's layer is the module that
# defines it.
QUERY_LAYERS = (
    "relational",
    "tpch",
    "analytics",
    "pipeline",
    "temporal",
    "snowsql",
    "dedup",
    "similarity",
    "textstats",
)
# op_tail_s quantile. One pass gives 7-25 op samples, so fewer than ten
# lie beyond it; the report line gives the count.
TAIL_Q = 0.9
# SnapshotTable methods the commit workload calls.
LIFECYCLE_METHODS = (
    "append",
    "merge_mor",
    "delete_where_dv",
    "read",
    "compact",
    "expire_snapshots",
    "remove_orphan_files",
)


@dataclass
class OpRecord:
    pass_no: int
    name: str
    kind: str  # "query", or on the commit workload "commit", "read", "maintenance"
    latency_s: float
    error: str | None = None
    result: object = None  # fetched rows (pandas) or a read's aggregate
    rows: int = 0  # rows a commit appended, upserted or deleted
    version: int = 0  # table version a read targeted


@dataclass
class QueryWorkload:
    name: str
    sf: float
    tables: tuple[str, ...]
    ops: tuple[str, ...]
    kind: str = "query"


@dataclass
class CommitWorkload:
    name: str
    commits: int
    batch_rows: int
    merge_rows: int
    n_users: int
    merge_every: int  # every n-th commit is a merge_mor upsert
    delete_every: int  # every n-th commit is a delete_where_dv (wins over a merge)
    maintenance_every: int  # compact + expire + orphan cleanup after every n-th commit
    kind: str = "commits"


SQL_CORPUS = QueryWorkload(
    name="sql_corpus",
    sf=0.05,
    tables=("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    ops=(
        "count_all",
        "region_join_agg",
        "top5_per_user",
        "prev_event",
        "purchase_funnel",
        "hll_user_rollup",
        "cdc_latest_events",
        "asof_purchase_signup",
        "snowsql_qualify_top5",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q18_large_volume_customers",
    ),
)

CURATION_DOCS = QueryWorkload(
    name="curation_docs",
    sf=0.01,
    tables=("documents", "embeddings"),
    ops=(
        "text_quality",
        "dedup_exact_hash",
        "minhash_lsh_pairs",
        "doc_bm25_search",
        "bpe_train_merges",
        "bpe_encode_fixed_merges",
        "ann_ivf_cosine",
    ),
)

TABLE_COMMITS = CommitWorkload(
    name="table_commits",
    commits=7,
    batch_rows=5_000,
    merge_rows=500,
    n_users=150,
    merge_every=5,
    delete_every=7,
    maintenance_every=7,
)

WORKLOADS = {w.name: w for w in (SQL_CORPUS, CURATION_DOCS, TABLE_COMMITS)}


# -- query workloads -------------------------------------------------------


def layer_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def run_query_pass(spark, tracer, wl: QueryWorkload, fns, data_dir, pass_no, records):
    """One pass over ``wl.ops`` in a fresh session; returns its wall time.
    The timed window of an op is the call plus the collect of its rows."""
    session = spark.newSession()
    t0 = time.perf_counter()
    for name in wl.ops:
        fn = fns[name]
        rec = OpRecord(pass_no, name, "query", 0.0)
        with tracer.span(str(pass_no), layer_of(fn), name):
            ts = time.perf_counter()
            try:
                rec.result = fn(session, data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                rec.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec.latency_s = time.perf_counter() - ts
        records.append(rec)
    return time.perf_counter() - t0


def check_queries(records, oracle, oracle_sql) -> None:
    """Fill ``error`` for each record whose rows do not match the oracle.
    Rows equal to rows already checked for the same op reuse that verdict."""
    checked: dict[str, list] = {}
    for rec in records:
        if rec.error is not None:
            continue
        seen = checked.setdefault(rec.name, [])
        verdict = next((msg for rows, msg in seen if rows.equals(rec.result)), False)
        if verdict is False:
            sql = oracle_sql.get(rec.name)
            verdict = (
                f"{rec.name}: no oracle_sql() twin"
                if sql is None
                else oracle.check(rec.name, sql, rec.result)
            )
            seen.append((rec.result, verdict))
        rec.error = verdict


def warm_up_query(spark, wl: QueryWorkload, fns, data_dir) -> None:
    """Set-up: load every input table in a fresh session, then run the
    workload's first op once."""
    from awscommunityday_2025_iceberg_snowfalke_spark.sources.registry import load

    session = spark.newSession()
    for t in wl.tables:
        load(session, data_dir, t).schema  # noqa: B018 - footer read
    fns[wl.ops[0]](session, data_dir).toPandas()


# -- table commits ---------------------------------------------------------

NEW_KEY_BASE = 1_000_000_000  # event ids of upserted new rows


def commit_kind(c: int, wl: CommitWorkload) -> str:
    """Commit ``c`` (1-based) of the schedule."""
    if c % wl.delete_every == 0:
        return "delete_where_dv"
    if c % wl.merge_every == 0:
        return "merge_mor"
    return "append"


def delete_user(seed: int, c: int, n_users: int) -> int:
    """The user whose rows commit ``c`` deletes."""
    digest = hashlib.md5(f"{seed}|del|{c}".encode()).digest()
    return int.from_bytes(digest[:4], "big") % n_users


def merge_sql(seed: int, c: int, wl: CommitWorkload) -> str:
    """Upsert source for commit ``c``: half updates of keys appended by the
    batches before ``c`` (new ``value``), half brand-new keys."""
    s = gen._Sql(seed)
    appended = sum(1 for k in range(1, c) if commit_kind(k, wl) == "append")
    half = wl.merge_rows // 2
    events = gen.event_batch_sql(seed, c, wl.merge_rows, wl.n_users)
    return f"""
        WITH src AS ({events}),
        upd AS (
            SELECT DISTINCT floor({s.u(f'mk{c}')} * {appended * wl.batch_rows})::BIGINT AS key
            FROM range({half}) t(i))
        SELECT key AS event_id, ts, user_id, event_type, value + 1.0 AS value, props
        FROM (SELECT *, row_number() OVER (ORDER BY event_id) AS rn FROM src) s
        JOIN (SELECT key, row_number() OVER (ORDER BY key) AS rn FROM upd) u USING (rn)
        UNION ALL
        SELECT event_id + {NEW_KEY_BASE}, ts, user_id, event_type, value, props
        FROM src WHERE event_id >= {c * wl.merge_rows + half}"""


def generate_commit_inputs(out_dir: str, seed: int, wl: CommitWorkload) -> str:
    """Append batches and merge sources of the seeded commit schedule."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = gen.connect()
    try:
        batch = 0
        for c in range(1, wl.commits + 1):
            kind = commit_kind(c, wl)
            if kind == "append":
                sql = gen.event_batch_sql(seed, batch, wl.batch_rows, wl.n_users)
                batch += 1
            elif kind == "merge_mor":
                sql = merge_sql(seed, c, wl)
            else:
                continue
            gen.write_table(con, sql, os.path.join(out_dir, f"c{c:03d}.parquet"))
    finally:
        con.close()
    with open(done, "w") as fh:
        fh.write(str(wl.commits))
    return out_dir


READ_AGG_SQL = (
    "SELECT count(*) AS n, sum(event_id) AS ids, "
    "sum(round(value * 100)::BIGINT) AS cents FROM {t}"
)


def _read_agg(df):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("ids"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    ).collect()[0]
    return (row["n"], row["ids"], row["cents"])


def run_commit_pass(spark, tracer, wl: CommitWorkload, inputs_dir, table_dir, seed, pass_no, records, stats):
    """One pass of the commit schedule on a fresh table; returns the time
    spent in engine calls (reading a batch is part of its commit).
    ``stats`` gathers table-wide figures (bytes written, live files, ...)."""
    from pyspark.sql import functions as F

    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import SnapshotTable

    session = spark.newSession()
    shutil.rmtree(table_dir, ignore_errors=True)
    seen_files: dict[str, int] = {}

    def new_bytes() -> int:
        added = 0
        for dirpath, _, files in os.walk(table_dir):
            for f in files:
                p = os.path.join(dirpath, f)
                if p not in seen_files:
                    seen_files[p] = os.path.getsize(p)
                    added += seen_files[p]
        return added

    def timed(kind, method, fn, **extra):
        rec = OpRecord(pass_no, method, kind, 0.0, **extra)
        with tracer.span(str(pass_no), "lifecycle", method):
            ts = time.perf_counter()
            try:
                rec.result = fn()
            except Exception as exc:  # noqa: BLE001 - a failed op is a result
                rec.error = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec.latency_s = time.perf_counter() - ts
        records.append(rec)
        return rec

    first = len(records)
    live_rows = 0
    table = SnapshotTable(session, table_dir)
    for c in range(1, wl.commits + 1):
        kind = commit_kind(c, wl)
        src = os.path.join(inputs_dir, f"c{c:03d}.parquet")
        if kind == "append":
            commit = timed("commit", "append", lambda: table.append(session.read.parquet(src)))
        elif kind == "merge_mor":
            commit = timed(
                "commit", "merge_mor", lambda: table.merge_mor(session.read.parquet(src), ["event_id"])
            )
        else:
            user = delete_user(seed, c, wl.n_users)
            commit = timed("commit", "delete_where_dv", lambda: table.delete_where_dv(F.col("user_id") == user))
        if kind != "delete_where_dv":
            commit.rows = pq.ParquetFile(src).metadata.num_rows
        stats["bytes_written"] += new_bytes()
        cur = table.current_version
        stats["versions"].setdefault(c, []).append(cur)
        read = timed("read", "read", lambda: _read_agg(table.read()), version=cur)
        if read.error is None:
            if kind == "delete_where_dv":
                commit.rows = live_rows - read.result[0]
            live_rows = read.result[0]
        if cur > 1:  # time travel to the version before this commit
            timed("read", "read", lambda: _read_agg(table.read(version=cur - 1)), version=cur - 1)
        stats["live_files_max"] = max(stats["live_files_max"], len(table.files()))
        stats["planning_gets"].append(table.planning_gets())
        if c % wl.maintenance_every == 0:
            timed("maintenance", "compact", lambda: table.compact())
            stats["bytes_rewritten"] += new_bytes()
            stats["versions"][c].append(table.current_version)
            timed("maintenance", "expire_snapshots", lambda: table.expire_snapshots(keep_last=2))
            timed("maintenance", "remove_orphan_files", lambda: table.remove_orphan_files())
            stats["bytes_written"] += new_bytes()
            # read the compacted table, and through the expired history the
            # last version before compaction (both hold commit c's rows)
            compacted = table.current_version
            timed("read", "read", lambda: _read_agg(table.read()), version=compacted)
            timed("read", "read", lambda: _read_agg(table.read(version=cur)), version=cur)
    # engine time only: file-size walks and inventory reads are bookkeeping
    wall = sum(r.latency_s for r in records[first:])
    stats["bytes_written"] += stats["bytes_rewritten"]
    stats["disk_bytes_end"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table_dir) for f in fs
    )
    stats["final_version"] = table.current_version
    stats["table"] = table
    return wall


def replay_commits(inputs_dir: str, seed: int, wl: CommitWorkload, versions: dict) -> tuple[dict, object]:
    """DuckDB replay of the schedule: the read aggregate at every table
    version the engine committed, and the final per-user state.
    ``versions`` maps each commit number to the version it produced."""
    con = gen.connect()
    con.execute(
        "CREATE TABLE t (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    at: dict[int, tuple] = {}
    for c in range(1, wl.commits + 1):
        kind = commit_kind(c, wl)
        src = f"read_parquet('{os.path.join(inputs_dir, f'c{c:03d}.parquet')}')"
        if kind == "append":
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif kind == "merge_mor":
            con.execute(f"DELETE FROM t WHERE event_id IN (SELECT event_id FROM {src})")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        else:
            con.execute(f"DELETE FROM t WHERE user_id = {delete_user(seed, c, wl.n_users)}")
        agg = con.execute(READ_AGG_SQL.format(t="t")).fetchone()
        for v in versions.get(c, ()):
            at[v] = tuple(int(x or 0) for x in agg)
    final = con.execute(FINAL_SQL.format(t="t")).fetchdf()
    con.close()
    return at, final


FINAL_SQL = (
    "SELECT user_id, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS ids, "
    "sum(round(value * 100)::BIGINT)::BIGINT AS cents FROM {t} GROUP BY user_id"
)


def new_commit_stats() -> dict:
    return {
        "bytes_written": 0,
        "bytes_rewritten": 0,
        "live_files_max": 0,
        "planning_gets": [],
        "versions": {},
    }


def warm_up_commits(spark, wl: CommitWorkload, inputs_dir: str, table_dir: str) -> None:
    """Set-up: read every input batch's footer in a fresh session, then
    append the first batch to a throwaway table and read it back."""
    from awscommunityday_2025_iceberg_snowfalke_spark.operators.lifecycle import SnapshotTable

    session = spark.newSession()
    batches = sorted(f for f in os.listdir(inputs_dir) if f.endswith(".parquet"))
    for f in batches:
        session.read.parquet(os.path.join(inputs_dir, f)).schema  # noqa: B018
    shutil.rmtree(table_dir, ignore_errors=True)
    table = SnapshotTable(session, table_dir)
    table.append(session.read.parquet(os.path.join(inputs_dir, batches[0])))
    _read_agg(table.read())
    shutil.rmtree(table_dir, ignore_errors=True)


def check_commits(records, commit_stats, inputs_dir, seed, wl: CommitWorkload, run_dir) -> None:
    """Every read against the replay's aggregate at the version it read,
    and each pass's final table, per user, against the replay's end state."""
    from check import Oracle

    for p, stats in enumerate(commit_stats):
        at, final = replay_commits(inputs_dir, seed, wl, stats["versions"])
        for rec in records:
            if rec.pass_no != p or rec.kind != "read" or rec.error:
                continue
            want = at.get(rec.version)
            got = tuple(int(x or 0) for x in rec.result)
            if want != got:
                rec.error = f"read v{rec.version}: (rows, sum ids, sum cents) {got} != replay {want}"
        final_path = os.path.join(run_dir, f"final-{p}.parquet")
        table = stats.pop("table")
        live = table.read()
        live.coalesce(1).write.mode("overwrite").parquet(final_path)
        stats["fresh_bytes"] = sum(
            os.path.getsize(os.path.join(final_path, f))
            for f in os.listdir(final_path) if f.endswith(".parquet")
        )
        oracle = Oracle(run_dir, ())
        try:
            oracle.con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{final_path}/*.parquet')")
            msg = oracle.check(f"final state, pass {p}", FINAL_SQL.format(t="t"), final)
        finally:
            oracle.close()
        if msg:
            last = [r for r in records if r.pass_no == p][-1]
            last.error = last.error or msg


WALL_KEYS = ("pass_s", "op_p50_s", "op_tail_s")
COMMIT_REPORT_KEYS = (
    "commit_p50_s",
    "commit_rows_per_s",
    "read_p50_s",
    "read_tail_s",
    "maintenance_s",
    "write_amp",
    "space_amp",
)


def commit_metrics(records, stats, inputs_dir) -> dict:
    """The commit workload's own end-to-end figures, from one pass's
    ``records`` and ``stats``."""
    commits = [r for r in records if r.kind == "commit"]
    reads = [r.latency_s for r in records if r.kind == "read"]
    user_bytes = sum(
        os.path.getsize(os.path.join(inputs_dir, f))
        for f in os.listdir(inputs_dir) if f.endswith(".parquet")
    )
    return {
        "commit_p50_s": statistics.median(r.latency_s for r in commits),
        "commit_rows_per_s": sum(r.rows for r in commits) / sum(r.latency_s for r in commits),
        "read_p50_s": statistics.median(reads),
        "read_tail_s": quantile(reads, TAIL_Q),
        "maintenance_s": sum(r.latency_s for r in records if r.kind == "maintenance"),
        "write_amp": stats["bytes_written"] / user_bytes,
        "space_amp": stats["disk_bytes_end"] / stats["fresh_bytes"],
    }


def lifecycle_metrics(spans, stats) -> dict:
    """``lifecycle.<method>.{wall_s,jobs,driver_s}`` summed over ``spans``,
    plus the table-wide byte, file and planning figures in ``stats``."""
    out = {}
    for method in LIFECYCLE_METHODS:
        mine = [sp for sp in spans if sp.layer == "lifecycle" and sp.name == method]
        out[f"lifecycle.{method}.wall_s"] = sum(sp.wall_s for sp in mine)
        out[f"lifecycle.{method}.jobs"] = sum(len(sp.jobs) for sp in mine)
        out[f"lifecycle.{method}.driver_s"] = sum(sp.wall_s - sp.job_busy_s for sp in mine)
    out["lifecycle.bytes_written"] = stats["bytes_written"]
    out["lifecycle.bytes_rewritten"] = stats["bytes_rewritten"]
    out["lifecycle.live_files_max"] = stats["live_files_max"]
    gets = stats["planning_gets"]
    out["lifecycle.planning_gets"] = statistics.median(gets) if gets else 0
    return out


def per_layer_metrics(spans, commit_stats, report) -> dict[str, float]:
    """Every per-layer metric of a traced pass, from its ``spans`` and,
    on the commit workload, its ``commit_stats`` (else None); zero for a
    layer the workload does not call."""
    totals = layer_totals(spans)
    out = {
        f"{layer}.{f}": totals.get(layer, {}).get(f, 0.0)
        for layer in QUERY_LAYERS
        for f in LAYER_FIELDS
    }
    out.update(lifecycle_metrics(spans, commit_stats or new_commit_stats()))
    out.update({k: report.get(k, 0.0) for k in (*WALL_KEYS, *COMMIT_REPORT_KEYS)})
    out["session.start_s"] = report["session.start_s"]
    out["setup.warmup_s"] = report["setup.warmup_s"]
    return out


def quantile(values, q: float) -> float:
    """The ``q`` quantile (inclusive method) of ``values``."""
    values = list(values)
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[min(98, max(0, round(q * 100) - 1))]


_UNITS = (
    ("_bytes", "bytes"),
    ("bytes_written", "bytes"),
    ("bytes_rewritten", "bytes"),
    ("_s", "s"),
    ("rows_per_s", "rows/s"),
    ("_rows", "rows"),
    ("_amp", "ratio"),
)


def per_layer_unit(name: str) -> str:
    for suffix, unit in sorted(_UNITS, key=lambda x: -len(x[0])):
        if name.endswith(suffix):
            return unit
    return "count"
