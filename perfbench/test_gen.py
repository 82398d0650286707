"""Tests of the seeded input generator: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

SF = 0.002


def _rows(path):
    return pq.read_table(path).to_pylist()


@pytest.mark.parametrize("table", gen.TABLES)
def test_same_seed_same_rows(tmp_path, table):
    a = gen.generate(str(tmp_path / "a"), 7, SF, (table,))
    b = gen.generate(str(tmp_path / "b"), 7, SF, (table,))
    assert _rows(f"{a}/{table}.parquet") == _rows(f"{b}/{table}.parquet")


@pytest.mark.parametrize(
    "table", [t for t in gen.TABLES if t not in ("region", "nation")]
)
def test_different_seed_different_rows(tmp_path, table):
    a = gen.generate(str(tmp_path / "a"), 1, SF, (table,))
    b = gen.generate(str(tmp_path / "b"), 2, SF, (table,))
    assert _rows(f"{a}/{table}.parquet") != _rows(f"{b}/{table}.parquet")


@pytest.mark.parametrize("table", gen.TABLES)
def test_schema_matches_reference_testdata(tmp_path, table):
    # the reference testdata directory the repo's own test suite reads
    ref = os.path.join(check._load_conftest().SF_DIR, f"{table}.parquet")
    if not os.path.exists(ref):
        pytest.skip(f"reference testdata not present: {ref}")
    out = gen.generate(str(tmp_path), 3, SF, (table,))
    got = pq.read_schema(f"{out}/{table}.parquet").remove_metadata()
    want = pq.read_schema(ref).remove_metadata()
    assert [(f.name, str(f.type)) for f in got] == [(f.name, str(f.type)) for f in want]


def test_foreign_keys_stay_in_parent_range(tmp_path):
    out = gen.generate(str(tmp_path), 5, 0.01)
    con = gen.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet')")
    orphans = {
        "orders.o_custkey": "SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)",
        "lineitem.l_orderkey": "SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)",
        "lineitem.l_partkey": "SELECT count(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)",
        "lineitem.l_suppkey": "SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)",
        "customer.c_nationkey": "SELECT count(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)",
        "supplier.s_nationkey": "SELECT count(*) FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)",
        "nation.n_regionkey": "SELECT count(*) FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region)",
        "events.user_id": "SELECT count(*) FROM events WHERE user_id NOT IN (SELECT c_custkey FROM customer)",
    }
    assert {k: con.execute(q).fetchone()[0] for k, q in orphans.items()} == dict.fromkeys(orphans, 0)


def test_documents_carry_duplicate_structure(tmp_path):
    out = gen.generate(str(tmp_path), 5, 0.1, ("documents",))
    con = gen.connect()
    docs = f"read_parquet('{out}/documents.parquet')"
    near = con.execute(f"SELECT count(*) FROM {docs} WHERE text LIKE '% dup'").fetchone()[0]
    exact = con.execute(f"SELECT count(*) - count(DISTINCT text) FROM {docs}").fetchone()[0]
    langs = dict(con.execute(f"SELECT lang, count(*) FROM {docs} GROUP BY 1").fetchall())
    assert 150 <= near <= 350  # ~5% of 5,000
    assert exact >= 1
    assert set(langs) == {name for name, _ in gen.LANG_WEIGHTS}
    assert langs["en"] > 2 * langs["de"]


def test_commit_schedule_covers_every_commit_kind():
    wl = workloads.TABLE_COMMITS
    kinds = {workloads.commit_kind(c, wl) for c in range(1, wl.commits + 1)}
    assert kinds == {"append", "merge_mor", "delete_where_dv"}
