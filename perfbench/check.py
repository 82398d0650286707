"""Answer checks, run after the timed window.

Query ops are compared with their ``oracle_sql()`` twin in DuckDB over the
same generated parquet, through ``tests/conftest.py::assert_matches_oracle``
(the correctness gate's compare), fed the rows the timed collect already fetched.
The commit workload is checked against a DuckDB replay of its schedule.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_conftest():
    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Fetched:
    """Stands in for a DataFrame whose rows were already collected."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self._pdf


class _OnceResult:
    def __init__(self, pdf):
        self._pdf = pdf

    def fetchdf(self):
        return self._pdf


class Oracle:
    """DuckDB views over one generated input directory; each oracle query
    runs once and its answer is reused for every pass."""

    def __init__(self, data_dir: str, tables):
        self.con = gen.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
            )
        self._answers: dict[str, object] = {}
        self._compare = _load_conftest().assert_matches_oracle

    def execute(self, sql: str):
        if sql not in self._answers:
            self._answers[sql] = self.con.execute(sql).fetchdf()
        return _OnceResult(self._answers[sql])

    def check(self, name: str, sql: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle, else the mismatch."""
        try:
            self._compare(Fetched(pdf), self, sql, name)
        except AssertionError as exc:
            return str(exc)[:500]
        except duckdb.Error as exc:
            return f"{name}: oracle failed: {exc}"[:500]
        return None

    def close(self) -> None:
        self.con.close()
