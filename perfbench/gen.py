"""Seeded generator for every reference-schema table.

Each value is drawn from ``md5(seed | salt | row id)``: the hash-salt
device of ``tools/scale_smoke.py`` with the seed mixed into the salt, so
the same seed gives the same rows and no RNG state is carried between
tables. DuckDB evaluates the expressions; pyarrow writes one parquet
file per table with a single row group and naive ``timestamp[us]``
columns, the physical layout of the reference testdata.

Column names, types and value domains follow ``FIXTURES.md``; sizes scale
with ``sf`` like the reference testdata's (sf0.1: 100 K events, 15 K customers,
150 K orders, 600 K lineitems, 5 K documents, 2 K embeddings). Foreign
keys stay inside their parent's key range.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# the reference testdata's 30-word document vocabulary
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "large", "old")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
# en carries ~41% of the reference documents, the other four ~15% each
LANG_WEIGHTS = (("en", 0.41), ("de", 0.145), ("es", 0.15), ("fr", 0.15), ("zh", 0.145))
EMBED_DIM = 64
N_LABELS = 10
# per-element hash keys inside list lambdas (row id + word/dim position)
WORD_IDX = "i || ':' || k"
DIM_IDX = "i || ':' || d"
LABEL_DIM_IDX = "label || ':' || d"


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the reference testdata's ratios)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": n(20_000),
    }


def _lit(values) -> str:
    return "[" + ", ".join("'" + v.replace("'", "''") + "'" for v in values) + "]"


class _Sql:
    """SQL fragments for one seed: ``u(salt, id)`` is uniform in [0, 1).

    ``slot`` (0..3) takes another 32 bits of the same digest, so columns
    that share a salt cost one md5 per row (DuckDB computes the repeated
    ``md5`` expression once)."""

    def __init__(self, seed: int):
        self.seed = int(seed)

    def u(self, salt: str, idx: str = "i", slot: int = 0) -> str:
        h = f"md5('{self.seed}|{salt}|' || {idx})"
        return f"(('0x' || substr({h}, {1 + 8 * slot}, 8))::UBIGINT / 4294967296.0)"

    def pick(self, salt: str, values, idx: str = "i", slot: int = 0) -> str:
        return f"{_lit(values)}[1 + floor({self.u(salt, idx, slot)} * {len(values)})::INT]"

    def below(self, salt: str, n: int, idx: str = "i", slot: int = 0) -> str:
        """Integer key in [0, n)."""
        return f"floor({self.u(salt, idx, slot)} * {n})::BIGINT"


def _events_sql(s: _Sql, n: int, n_users: int, first_id: int = 0) -> str:
    """Events spread over 2024-01-01 .. 2024-01-30 in event_id order (the
    reference ts rises with event_id), exponential ``value`` with mean 50,
    and a ``{"k": n}`` props document with 100 keys."""
    span_us = 30 * 86_400 * 1_000_000
    return f"""
        SELECT i AS event_id,
               make_timestamp(1704067200000000::BIGINT
                   + floor((i - {first_id} + {s.u('ev')}) * {span_us} / {n})::BIGINT) AS ts,
               {s.below('ev', n_users, slot=1)} AS user_id,
               {s.pick('ev', EVENT_TYPES, slot=2)} AS event_type,
               round(-50.0 * ln(1.0 - {s.u('ev', slot=3)}), 2) AS value,
               '{{"k": ' || {s.below('props', 100)} || '}}' AS props
        FROM range({first_id}, {first_id + n}) t(i)"""


def _documents_sql(s: _Sql, n: int) -> str:
    """10..100 vocabulary words per document. About 5% are near-duplicates
    (an earlier document's text plus `` dup``) and 0.16% exact duplicates
    of an earlier document, the reference duplicate structure."""
    lang = "CASE " + " ".join(
        f"WHEN {s.u('lang')} < {c:.3f} THEN '{name}'"
        for name, c in _cumulative(LANG_WEIGHTS)[:-1]
    ) + f" ELSE '{LANG_WEIGHTS[-1][0]}' END"
    word = f"{_lit(VOCAB)}[1 + floor({s.u('w', WORD_IDX)} * {len(VOCAB)})::INT]"
    words = f"array_to_string(list_transform(range(10 + {s.below('len', 91)}), k -> {word}), ' ')"
    return f"""
        WITH base AS MATERIALIZED (SELECT i, {words} AS body FROM range({n}) t(i)),
        kind AS (
            SELECT i, body, {lang} AS lang,
                   CASE WHEN i > 0 AND {s.u('dup')} < 0.05 THEN 'near'
                        WHEN i > 0 AND {s.u('dup')} < 0.0516 THEN 'exact' END AS k,
                   floor({s.u('src')} * i)::BIGINT AS j
            FROM base),
        docs AS (
            SELECT kind.i AS doc_id,
                   CASE kind.k WHEN 'near' THEN b.body || ' dup'
                               WHEN 'exact' THEN b.body ELSE kind.body END AS text,
                   kind.lang, 'src' || (kind.i % 20) AS source
            FROM kind LEFT JOIN base b ON b.i = kind.j)
        SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
        FROM docs ORDER BY doc_id"""


def _cumulative(weights):
    out, acc = [], 0.0
    for name, w in weights:
        acc += w
        out.append((name, acc))
    return out


def _embeddings_sql(s: _Sql, n: int) -> str:
    """Unit vectors: uniform noise plus a small offset per label, normalized
    (the reference vectors are unit length with per-dim std ~ 1/8)."""
    comp = f"(({s.u('e', DIM_IDX)} - 0.5) + 0.15 * ({s.u('c', LABEL_DIM_IDX)} - 0.5))"
    return f"""
        WITH lab AS (SELECT i, {s.below('label', N_LABELS)}::INT AS label FROM range({n}) t(i)),
        raw AS (
            SELECT i, label, list_transform(range({EMBED_DIM}), d -> {comp}) AS v FROM lab)
        SELECT i AS vec_id,
               list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                   AS embedding,
               label
        FROM raw ORDER BY vec_id"""


def table_sql(seed: int, sf: float) -> dict[str, str]:
    """One DuckDB SELECT per table."""
    s = _Sql(seed)
    n = sizes(sf)
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    n_users = max(1, n["customer"] // 10)  # sf0.1: 1,500 active users
    return {
        "region": f"""
            SELECT i::INT AS r_regionkey, {_lit(REGIONS)}[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   {s.below('cnat', 25)}::INT AS c_nationkey,
                   round(-999.99 + {s.u('cbal')} * 10999.98, 2) AS c_acctbal,
                   {s.pick('cseg', SEGMENTS)} AS c_mktsegment
            FROM range({nc}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   {s.below('snat', 25)}::INT AS s_nationkey,
                   round(-999.99 + {s.u('sbal')} * 10999.98, 2) AS s_acctbal
            FROM range({ns}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {s.pick('padj', PART_ADJ)} || ' ' || {s.pick('pnoun', PART_NOUN)} AS p_name,
                   'Brand#' || (1 + {s.below('pbrand', 25)}) AS p_brand,
                   {s.pick('ptype', PART_TYPES)} AS p_type,
                   (1 + {s.below('psize', 50)})::INT AS p_size,
                   round(900.0 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({np_}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, {s.below('o', nc)} AS o_custkey,
                   {s.pick('o', ('O', 'F', 'P'), slot=1)} AS o_orderstatus,
                   round(1000.0 + {s.u('o', slot=2)} * 499000.0, 2) AS o_totalprice,
                   (DATE '1995-01-01' + {s.below('o', 2404, slot=3)}::INT)::TIMESTAMP AS o_orderdate,
                   {s.pick('oprio', PRIORITIES)} AS o_orderpriority
            FROM range({no}) t(i)""",
        "lineitem": f"""
            SELECT {s.below('l0', no)} AS l_orderkey,
                   {s.below('l0', np_, slot=1)} AS l_partkey,
                   {s.below('l0', ns, slot=2)} AS l_suppkey,
                   (1 + {s.below('l0', 7, slot=3)})::INT AS l_linenumber,
                   (1 + {s.below('l1', 50)})::DOUBLE AS l_quantity,
                   round(900.0 + {s.u('l1', slot=1)} * 104100.0, 2) AS l_extendedprice,
                   {s.below('l1', 11, slot=2)} / 100.0 AS l_discount,
                   {s.below('l1', 9, slot=3)} / 100.0 AS l_tax,
                   {s.pick('l2', ('A', 'N', 'R'))} AS l_returnflag,
                   {s.pick('l2', ('O', 'F'), slot=1)} AS l_linestatus,
                   (DATE '1995-01-02' + {s.below('l2', 2498, slot=2)}::INT)::TIMESTAMP AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": _events_sql(s, n["events"], n_users),
        "documents": _documents_sql(s, n["documents"]),
        "embeddings": _embeddings_sql(s, n["embeddings"]),
    }


def event_batch_sql(seed: int, batch: int, rows: int, n_users: int) -> str:
    """Events ``[batch * rows, (batch + 1) * rows)`` of one seeded stream:
    the rows of one append in the commit workload."""
    return _events_sql(_Sql(seed), rows, n_users, first_id=batch * rows)


def connect() -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection with the progress bar off, spilling
    (if ever) under the temp dir rather than the working directory."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    return con


def write_table(con: duckdb.DuckDBPyConnection, sql: str, path: str) -> int:
    """Run ``sql`` and write it as one single-row-group parquet file."""
    tbl = con.execute(sql).arrow()
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=max(1, tbl.num_rows))
    os.replace(tmp, path)
    return tbl.num_rows


def generate(out_dir: str, seed: int, sf: float, tables=TABLES) -> str:
    """Write ``tables`` for ``seed`` at ``sf`` under ``out_dir`` (skipped
    when a complete earlier generation is already there)."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    sql = table_sql(seed, sf)
    con = connect()
    try:
        for t in tables:
            write_table(con, sql[t], os.path.join(out_dir, f"{t}.parquet"))
    finally:
        con.close()
    with open(done, "w") as fh:
        fh.write(",".join(tables))
    return out_dir
