"""Flag-gated real-Iceberg backend (reference: terraform/snowflake.tf
external Iceberg tables; aws-community-builders-presentation.md:180-258).

The repo's default table layer is the parquet-native ``SnapshotTable``
(operators/lifecycle.py) — manifests + footer stats + CAS commits, no
external dependency. When a real ``iceberg-spark-runtime`` jar is
available, the SAME lifecycle query names can run against a genuine
Iceberg catalog through :class:`IcebergTable`, which mirrors the
``SnapshotTable`` surface (append / overwrite / read / time-travel /
history / files / compact / expire).

Gating (no network in this environment, so the jar cannot be fetched):

- ``SPARK_GRAFT_ICEBERG_JAR`` — path to a local
  ``iceberg-spark-runtime-*.jar``. When set AND loadable, ``enabled()``
  is True and ``operators.lifecycle.make_table`` returns IcebergTable.
- otherwise everything falls back to the parquet-native layer; the
  adapter code is still importable and unit-testable for its SQL strings.

A session must be built with :func:`configure_builder` for the catalog
to exist (Iceberg extensions cannot be injected into a running session).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

from .. import snaplog

CATALOG = "graft"
JAR_ENV = "SPARK_GRAFT_ICEBERG_JAR"


def jar_path() -> str | None:
    p = os.environ.get(JAR_ENV)
    return p if p and os.path.exists(p) else None


def runtime_loaded(spark: SparkSession) -> bool:
    """True when the Iceberg runtime classes are actually on the session's
    JVM classpath (the only check that matters — a configured-but-absent
    jar must fall back)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — JVM probe
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


def enabled(spark: SparkSession | None = None) -> bool:
    if jar_path() is None:
        return False
    return runtime_loaded(spark) if spark is not None else True


def configure_builder(builder, warehouse: str | None = None):
    """Add the Iceberg extension + a Hadoop-catalog to a SessionBuilder.
    No-op when the jar is not provided, so callers can apply it
    unconditionally."""
    jar = jar_path()
    if jar is None:
        return builder
    warehouse = warehouse or tempfile.mkdtemp(prefix="iceberg_wh_")
    return (
        builder.config("spark.jars", jar)
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config(
            f"spark.sql.catalog.{CATALOG}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config(f"spark.sql.catalog.{CATALOG}.type", "hadoop")
        .config(f"spark.sql.catalog.{CATALOG}.warehouse", warehouse)
    )


class IcebergTable:
    """``SnapshotTable``-shaped adapter over a real Iceberg table.

    Matches the subset of the SnapshotTable surface the lifecycle
    operators use, so ``make_table`` can swap backends under the same
    query names. Snapshot identity differs (Iceberg snapshot ids are
    random longs, not dense versions), so ``history()`` maps them to
    1-based dense versions in commit order — same shape as the native
    layer.
    """

    def __init__(self, spark: SparkSession, name: str):
        if not runtime_loaded(spark):
            raise RuntimeError(
                "Iceberg runtime not on the session classpath; "
                f"set {JAR_ENV} and build the session via configure_builder"
            )
        self.spark = spark
        self.name = name  # bare table name inside the gated catalog
        self.ident = f"{CATALOG}.db.{name}"

    # -- commits -------------------------------------------------------------
    def append(self, df: DataFrame, n_files: int | None = None) -> int:
        if n_files:
            df = df.repartition(n_files)
        if self._exists():
            df.writeTo(self.ident).append()
        else:
            df.writeTo(self.ident).create()
        return self.current_version

    def overwrite(self, df: DataFrame, n_files: int | None = None) -> int:
        if n_files:
            df = df.repartition(n_files)
        df.writeTo(self.ident).createOrReplace()
        return self.current_version

    def merge(self, source: DataFrame, keys: list[str], n_files: int | None = None) -> int:
        """MERGE INTO upsert — here it's Iceberg's own MERGE, not the
        hand-rolled copy-on-write plan of the native layer."""
        view = f"_merge_src_{self.name}"
        source.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        self.spark.sql(
            f"MERGE INTO {self.ident} t USING {view} s ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        return self.current_version

    def _exists(self) -> bool:
        return self.spark.catalog.tableExists(self.ident)

    # -- reads ---------------------------------------------------------------
    def read(
        self, version: int | None = None, as_of: float | None = None
    ) -> DataFrame:
        if as_of is not None:
            return self.spark.sql(
                f"SELECT * FROM {self.ident} TIMESTAMP AS OF "
                f"CAST({as_of} AS TIMESTAMP)"
            )
        if version is not None:
            sid = self._snapshot_ids()[version - 1]
            return self.spark.sql(
                f"SELECT * FROM {self.ident} VERSION AS OF {sid}"
            )
        return self.spark.table(self.ident)

    # -- metadata ------------------------------------------------------------
    def _snapshot_ids(self) -> list[int]:
        # snapshot_id tiebreaker: made_current_at has millisecond
        # resolution, so rapid successive commits can tie and make the
        # dense-version mapping unstable without it
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.history "
            "ORDER BY made_current_at, snapshot_id"
        ).collect()
        return [int(r[0]) for r in rows]

    @property
    def current_version(self) -> int:
        return len(self._snapshot_ids()) if self._exists() else 0

    def history(self) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT h.snapshot_id, h.made_current_at, s.operation "
            f"FROM {self.ident}.history h "
            f"JOIN {self.ident}.snapshots s USING (snapshot_id) "
            "ORDER BY h.made_current_at, h.snapshot_id"
        ).collect()
        return [
            {
                "version": i + 1,
                "operation": r["operation"],
                "timestamp": r["made_current_at"].timestamp(),
            }
            for i, r in enumerate(rows)
        ]

    def files(self, version: int | None = None) -> list[dict]:
        # metadata-table time travel (Iceberg supports VERSION AS OF on
        # .files): resolve the dense version to its snapshot id so the
        # listing matches SnapshotTable.files(version) semantics instead of
        # silently returning the current file set
        src = f"{self.ident}.files"
        if version is not None:
            sid = self._snapshot_ids()[version - 1]
            src = f"{src} VERSION AS OF {sid}"
        return [
            {"file": r["file_path"], "bytes": int(r["file_size_in_bytes"])}
            for r in self.spark.sql(
                f"SELECT file_path, file_size_in_bytes FROM {src}"
            ).collect()
        ]

    def file_stats(self, column: str) -> list[dict]:
        """Per-file min/max/nulls/rows for ``column`` from Iceberg's own
        manifest metrics (``.files.readable_metrics``) — the real version
        of the footer walk the native layer does by hand."""
        rows = self.spark.sql(
            f"SELECT file_path, record_count, "
            f"readable_metrics.`{column}`.lower_bound AS mn, "
            f"readable_metrics.`{column}`.upper_bound AS mx, "
            f"readable_metrics.`{column}`.null_value_count AS nulls "
            f"FROM {self.ident}.files"
        ).collect()
        return [
            {
                "file": r["file_path"],
                "min": r["mn"],
                "max": r["mx"],
                "null_count": None if r["nulls"] is None else int(r["nulls"]),
                "rows": int(r["record_count"]),
            }
            for r in rows
        ]

    def plan_scan(self, predicates: dict) -> dict:
        """``SnapshotTable.plan_scan`` over the manifest metrics: the same
        predicates mapping and the same rule (``snaplog.may_match``)."""
        conj = snaplog.conjuncts(predicates)
        stats: dict = {}
        for col in dict.fromkeys(c for c, _, _ in conj):
            for s in self.file_stats(col):
                stats.setdefault(s["file"], {})[col] = [
                    s["min"], s["max"], s["null_count"], s["rows"]
                ]
        read = [f for f, st in stats.items() if snaplog.survives(st, conj)]
        return {
            "files_total": len(stats),
            "files_read": read,
            "files_skipped": len(stats) - len(read),
        }

    def read_files(self, files: list[str]) -> DataFrame:
        return self.spark.read.parquet(*files)

    # -- maintenance ---------------------------------------------------------
    def compact(self, n_files: int = 1, sort_by: list[str] | None = None) -> int:
        opts = f", strategy => 'sort', sort_order => '{','.join(sort_by)}'" \
            if sort_by else ""
        self.spark.sql(
            f"CALL {CATALOG}.system.rewrite_data_files("
            f"table => 'db.{self.name}'{opts})"
        )
        return self.current_version

    def expire_snapshots(self, keep_last: int = 1) -> None:
        ids = self._snapshot_ids()
        if len(ids) <= keep_last:
            return
        # older_than defaults to now-5d in Iceberg, so without it snapshots
        # created seconds ago are never expired and retain_last is a no-op
        # on fresh fixture tables; passing current_timestamp makes
        # retain_last actually govern retention (SnapshotTable parity)
        self.spark.sql(
            f"CALL {CATALOG}.system.expire_snapshots("
            f"table => 'db.{self.name}', "
            f"older_than => TIMESTAMP '9999-12-31 00:00:00', "
            f"retain_last => {keep_last})"
        )

    # --- surface the jar-gated adapter maps to Iceberg SQL/procedures when
    # it can run (no jar on this image — see SCALE.md's closure note); the
    # r10 SnapshotTable additions below are declared explicitly so a
    # configured-backend run fails LOUDLY with the Iceberg equivalent
    # named, never with a bare AttributeError
    def _unmapped(self, op: str, equivalent: str):
        raise NotImplementedError(
            f"IcebergTable.{op} is not implemented by the jar-gated "
            f"adapter (environment-blocked: no iceberg-spark-runtime jar "
            f"on this image); on a real runtime use {equivalent}"
        )

    def create_tag(self, name: str, version: int | None = None):
        self._unmapped("create_tag", "ALTER TABLE t CREATE TAG")

    def read_tag(self, name: str):
        self._unmapped("read_tag", "SELECT ... VERSION AS OF '<tag>'")

    def create_branch(self, name: str, version: int | None = None):
        self._unmapped("create_branch", "ALTER TABLE t CREATE BRANCH")

    def append_to_branch(self, name, df, n_files=None):
        self._unmapped(
            "append_to_branch", "writeTo(t).option('branch', name).append()"
        )

    def read_branch(self, name: str):
        self._unmapped("read_branch", "SELECT ... VERSION AS OF '<branch>'")

    def fast_forward(self, name: str):
        self._unmapped("fast_forward", "CALL system.fast_forward")

    def refs(self):
        self._unmapped("refs", "SELECT * FROM t.refs")

    def delete_where_mor(self, keys, key_cols):
        self._unmapped(
            "delete_where_mor",
            "DELETE FROM t WHERE ... with write.delete.mode=merge-on-read",
        )

    def delete_where_positional(self, predicate):
        self._unmapped(
            "delete_where_positional",
            "DELETE FROM t WHERE ... (position deletes are Iceberg's "
            "default MOR delete encoding from MERGE/UPDATE)",
        )

    def merge_mor(self, source, keys, n_files=None):
        self._unmapped(
            "merge_mor", "MERGE INTO with write.merge.mode=merge-on-read"
        )

    def rollback_to(self, version: int):
        self._unmapped("rollback_to", "CALL system.rollback_to_snapshot")

    def rewrite_manifests(self, target_manifests: int = 1):
        self._unmapped("rewrite_manifests", "CALL system.rewrite_manifests")

    def manifest_list(self, version: int | None = None):
        self._unmapped(
            "manifest_list", "SELECT * FROM <tbl>.manifests"
        )

    def planning_gets(self, version: int | None = None):
        self._unmapped(
            "planning_gets",
            "COUNT(*) + 1 over <tbl>.manifests (one GET per manifest "
            "file plus the manifest list)",
        )

    def plan_scan_manifests(self, *args, **kwargs):
        # accepts any call shape (SnapshotTable grew keyword forms like
        # predicates=/version= — ann_store_snapshot_probe calls one) so a
        # configured-backend run always reaches the explanatory error
        # below instead of dying with a bare TypeError (r15 ADVICE)
        self._unmapped(
            "plan_scan_manifests",
            "Iceberg's own scan planning (manifest-list + manifest "
            "column stats; SparkScanBuilder does this automatically)",
        )

    def delete_where_dv(self, predicate):
        self._unmapped(
            "delete_where_dv",
            "DELETE FROM t WHERE ... on a format-version=3 table "
            "(deletion vectors are v3's default row-level delete "
            "encoding, stored in Puffin files)",
        )

    def delete_vectors(self, version: int | None = None):
        self._unmapped(
            "delete_vectors",
            "SELECT * FROM <tbl>.position_deletes / the v3 DV metadata",
        )
