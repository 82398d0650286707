"""Table-lifecycle semantics (SURVEY §2.10 T1-T10) on plain Parquet.

The reference gets snapshots/time-travel/compaction from Iceberg
(P:159-197, P:561-568); the idiomatic Spark route is the
``iceberg-spark-runtime`` catalog, which is not installable in this offline
container. This module provides the same *semantics* with a self-contained
snapshot layer over Parquet — manifest JSONs pointing at immutable data
files, exactly Iceberg's metadata→manifest→data layering in miniature:

- append/overwrite  → new snapshot (atomic manifest write)  [T1/T2]
- read(version=… / as_of=…)  → time travel                  [T4]
- schema evolution: the log-recorded table schema           [T3]
- compact()  → rewrite_data_files equivalent                 [T5]
- expire_snapshots / remove_orphan_files (ref-aware)         [T6/T7]
- files()/history()/refs()  → metadata tables                [T9/T10]
- merge / merge_mor  → MERGE INTO, copy-on-write and merge-on-read
- delete_where_mor / delete_where_positional  → Iceberg v2 equality and
  position delete encodings (sequence-scoped reads)
- changelog()  → incremental row-level change scan between snapshots
- stage_append/read_staged/publish_staged/abort_staged  → WAP
- create_tag/create_branch/append_to_branch/fast_forward  → refs
- rollback_to()  → rollback_to_snapshot

On a real cluster with the Iceberg runtime, every call here maps 1:1 to an
Iceberg DDL/procedure (documented per-method); the interface is the
engine's contract, so swapping the backend does not touch query code.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from .. import snaplog
from ..snaplog import BLOOM_A, BLOOM_B, BLOOM_M, BLOOM_P
from ..functions import det_sum, det_sum_sql
from ..sources.registry import CUTOFF_7D, load, local_frame


def _agg_col_stats(vals: list) -> list:
    """Aggregate per-entry ``[min, max, null_count, rows]`` column stats
    into one manifest-level stat of the same shape. Bounds aggregate over
    the entries that HAVE bounds: an all-NULL entry carries ``[None, None,
    n, n]`` and contributes none."""
    bounds = [v for v in vals if v[0] is not None]
    return [
        min(v[0] for v in bounds) if bounds else None,
        max(v[1] for v in bounds) if bounds else None,
        sum(v[2] for v in vals),
        sum(v[3] for v in vals),
    ]


class CommitConflict(RuntimeError):
    """A rewrite commit was invalidated by a concurrent rewrite (Iceberg:
    ValidationException from rewrite_data_files / MERGE conflict)."""


class DeletionVectorLayoutError(RuntimeError):
    """The partitioned deletion-vector write did not leave exactly one
    vector file per target data file (the v3 one-vector-per-file
    invariant the commit relies on)."""


# Positional tombstone kinds (v2 position deletes, v3 deletion vectors)
# and the declared schema of their files: reading with it costs no
# schema-inference job.
_POSITIONAL = ("pos", "dv")
_POS_SCHEMA = "file string, pos bigint"


def _file_name():
    """The basename of the file each scanned row was read from."""
    return F.element_at(F.split("_metadata.file_path", "/"), -1)


def _seq_of(name, seqs: dict[str, int]):
    """The sequence number of the file whose basename is the column
    ``name``, looked up in the literal map ``seqs`` (file → seq);
    constant folding turns the map into one literal."""
    return F.element_at(
        F.create_map(*[F.lit(x) for f, q in seqs.items() for x in (f, q)]), name
    ).cast("long")


def _with_seq(df: DataFrame, m: dict, files: list[str]) -> DataFrame:
    """``df`` (with provenance) plus ``_df_seq``, the data sequence
    number snapshot ``m`` records for each row's file."""
    seqs = m.get("file_seqs", {})
    return df.withColumn(
        "_df_seq", _seq_of(F.col("_df_file"), {f: seqs.get(f, 0) for f in files})
    )


def _equality_sets(dels: list[dict]) -> list[list[dict]]:
    """The equality deletes among ``delete_files`` entries ``dels``,
    grouped by key columns and the key schema they were written under:
    one group per key-column set unless a later delete wrote its keys
    under another type."""
    groups: dict[tuple, list[dict]] = {}
    for d in dels:
        if d.get("kind") not in _POSITIONAL:
            sig = (tuple(d["key_cols"]), json.dumps(d["schema"], sort_keys=True))
            groups.setdefault(sig, []).append(d)
    return list(groups.values())


def make_table(
    spark: SparkSession,
    prefix: str,
    stats_col: str | None = None,
    stats_cols: tuple[str, ...] | None = None,
):
    """Backend factory for the lifecycle fixture tables: a real Iceberg
    catalog table when the flag-gated runtime is present
    (sources/iceberg.py, ``SPARK_GRAFT_ICEBERG_JAR``), else the
    parquet-native snapshot layer. Both expose the same append/read/
    time-travel/history/files/file_stats/plan_scan surface, so every
    lifecycle query name runs unchanged against either backend.
    ``stats_col`` requests per-entry manifest column stats (Iceberg
    tables always carry these; the adapter ignores the arg)."""
    from ..sources import iceberg as _ice

    if _ice.enabled(spark):
        return _ice.IcebergTable(
            spark, f"{prefix.rstrip('_')}_{uuid.uuid4().hex[:8]}"
        )
    return SnapshotTable(
        spark,
        tempfile.mkdtemp(prefix=prefix),
        stats_col=stats_col,
        stats_cols=stats_cols,
    )


class SnapshotTable:
    """Versioned Parquet table: ``<path>/data/*.parquet`` immutable files +
    ``<path>/snapshots/v<N>.json`` manifests. The exclusive create of
    the next manifest (tmp + ``os.link``, see ``snaplog``) is the
    atomic commit point, mirroring Iceberg's pointer swap (P:205-224)."""

    def __init__(
        self,
        spark: SparkSession | None,
        path: str,
        stats_col: str | None = None,
        stats_cols: tuple[str, ...] | list[str] | None = None,
    ):
        """``spark`` may be None for metadata-only use (manifest/footer
        walks) — e.g. from the Python DataSource planner, which runs
        without a session handle. ``stats_cols`` (or the single-column
        sugar ``stats_col``): when set, every manifest file this table
        writes records per-entry min/max/null-count of those columns
        (Iceberg writers carry column stats into manifests at commit
        time; aws-community-builders-presentation.md:180-188 describes
        per-column min/max/null stats), enabling
        :meth:`plan_scan_manifests` — scan planning that never opens a
        data-file footer.

        The stats config is PERSISTED in ``<path>/snapshots/table.json``
        on first construction (the table-metadata role of Iceberg's
        ``metadata.json``): a second handle opened WITHOUT the config —
        the concurrent-writer pattern — adopts it from disk, so every
        writer carries stats and never silently commits stats-less
        manifests that would degrade planning (r11 ADVICE). An explicit
        config on this handle wins over the persisted one (it is not
        rewritten — first writer fixes the table's stats schema)."""
        self.spark = spark
        self.path = path
        self._snaps = os.path.join(path, "snapshots")
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(self._snaps, exist_ok=True)
        cols: tuple[str, ...] = tuple(
            stats_cols if stats_cols else ((stats_col,) if stats_col else ())
        )
        meta_path = os.path.join(path, "snapshots", "table.json")
        if not cols and os.path.exists(meta_path):
            with open(meta_path) as fh:
                cols = tuple(json.load(fh).get("stats_cols", ()))
        elif cols and not os.path.exists(meta_path):
            # tmp + os.replace: a torn read can never observe half a JSON
            tmp = meta_path + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as fh:
                json.dump({"stats_cols": list(cols)}, fh)
            os.replace(tmp, meta_path)
        self.stats_cols = cols
        self.stats_col = cols[0] if cols else None
        # Spark's default INT96 timestamps carry NO footer min/max stats —
        # write micros (what Iceberg mandates) so file skipping can work
        if spark is not None:
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )

    # -- metadata ------------------------------------------------------------
    @property
    def current_version(self) -> int:
        return snaplog.current(self._snaps)

    def _manifest(self, version: int) -> dict:
        """Snapshot ``version``'s manifest; version 0 is the empty table."""
        return snaplog.read(self._snaps, version)

    def _snapshot(
        self,
        version: int | None = None,
        as_of: float | None = None,
        tag: str | None = None,
    ) -> dict:
        """The manifest a read names (``snaplog.resolve``): a tag, a
        version (0 is the empty table), the newest snapshot at or before
        ``as_of``, or the head; an unknown one raises a ValueError naming
        it."""
        return snaplog.resolve(self._snaps, version, as_of, tag)

    def history(self) -> list[dict]:
        """T10/S12: snapshot history (Iceberg: ``<tbl>.history``)."""
        return [self._manifest(v) for v in snaplog.versions(self._snaps)]

    # -- partition-spec evolution (Iceberg ALTER TABLE ADD PARTITION FIELD) --
    @property
    def partition_spec(self) -> str:
        """The table's CURRENT partition spec label. A handle that never
        called :meth:`evolve_partition_spec` adopts the latest committed
        spec (the metadata.json role — concurrent writers agree)."""
        spec = getattr(self, "_spec", None)
        if spec:
            return spec
        v = self.current_version
        return (
            self._manifest(v).get("spec", "unpartitioned")
            if v
            else "unpartitioned"
        )

    def evolve_partition_spec(self, spec: str) -> None:
        """Iceberg partition evolution: a METADATA-ONLY spec change —
        no data file is touched or rewritten; files written before the
        change keep their old spec forever (recorded per-file in every
        manifest, like ``file_seqs``), files written after carry the new
        one. Planning needs no spec-specific code here: each file is
        pruned by its own recorded bounds, which is exactly the effect of
        Iceberg evaluating each manifest under its own spec."""
        self._spec = spec

    def files_for_spec(self, spec: str, version: int | None = None) -> list[str]:
        """Data files written under ``spec`` as of ``version`` (the
        per-generation view of an evolved table)."""
        fs = self._snapshot(version).get("file_specs", {})
        return sorted(f for f, s in fs.items() if s == spec)

    def files(self, version: int | None = None) -> list[dict]:
        """T10: data-file inventory (Iceberg: ``<tbl>.files``)."""
        m = self._snapshot(version)
        out = []
        for rel in m["files"]:
            p = os.path.join(self.path, "data", rel)
            out.append({"file": rel, "bytes": os.path.getsize(p)})
        return out

    def file_stats(self, column: str) -> list[dict]:
        """Per-file min/max/null-count for ``column`` from the Parquet
        footers — the manifest column-stats layer Iceberg keeps per data
        file (aws-community-builders-presentation.md:180-188). Metadata-only
        I/O: one footer read per file, no data pages. Unknown stats are
        None (see ``snaplog.footer_stats``)."""
        out = []
        for f in self._snapshot()["files"]:
            p = os.path.join(self.path, "data", f)
            lo, hi, nulls, rows = snaplog.footer_stats(p, [column])[column]
            out.append(
                {"file": f, "min": lo, "max": hi, "null_count": nulls, "rows": rows}
            )
        return out

    def plan_scan(self, predicates: dict) -> dict:
        """Iceberg-style scan planning (aws-community-builders-
        presentation.md:247-258) from the data-file footers: keep the
        files whose stats may match every predicate, skip the rest before
        any data read. ``predicates`` is :meth:`plan_scan_manifests`' own
        mapping — ``{column: (lo, hi) | "is_null" | "is_not_null"}`` —
        and the rule is the same (``snaplog.may_match``), so the two
        planners differ only in where the stats come from: one footer
        read per file here, manifests there."""
        conj = snaplog.conjuncts(predicates)
        cols = {c for c, _, _ in conj}
        files = self._snapshot()["files"]
        data = os.path.join(self.path, "data")
        read = [
            f
            for f in files
            if snaplog.survives(
                snaplog.footer_stats(os.path.join(data, f), cols), conj
            )
        ]
        return {
            "files_total": len(files),
            "files_read": read,
            "files_skipped": len(files) - len(read),
        }

    def read_files(self, spark_files: list[str]) -> DataFrame:
        """Read an explicit subset of the head's data files (the pruned
        scan) under the table schema, with no schema-inference job."""
        return self._read_paths(self._snapshot(), spark_files)

    # -- type widening (Iceberg v3 ALTER COLUMN TYPE promotion) ---------------
    _WIDEN_TARGETS = {"bigint": "long", "double": "double"}  # DDL -> Spark JSON

    def widen_column_type(self, column: str, to_type: str) -> None:
        """Iceberg v3 type promotion (``ALTER TABLE ... ALTER COLUMN ...
        TYPE ...``): METADATA-ONLY — no data file is rewritten; files keep
        their narrow physical type and every read casts them up to the
        table type. Only lossless promotions are legal (int→bigint,
        int/bigint→double, float→double — Iceberg's promotion lattice);
        the target set here is the lattice's sinks. The mapping persists
        next to the manifests (``snaplog.TYPES``, the ``metadata.json``
        role) and ``snaplog.table_schema`` applies it, so any handle — and
        the Python DataSource — reads the widened table type, and a later
        write of the wide type commits."""
        if to_type not in self._WIDEN_TARGETS:
            raise ValueError(
                f"illegal promotion target {to_type!r}"
                f" (allowed: {tuple(self._WIDEN_TARGETS)})"
            )
        cur = snaplog.declared(self._snaps, snaplog.TYPES)
        if cur.get(column) == "double" and to_type == "bigint":
            raise ValueError(f"cannot narrow {column} double -> bigint")
        cur[column] = self._WIDEN_TARGETS[to_type]
        self._declare(snaplog.TYPES, cur)

    def _declare(self, name: str, doc: dict) -> None:
        """Replace the declared-schema-change file ``name`` (tmp +
        ``os.replace``: a reader never sees half a JSON)."""
        out = os.path.join(self._snaps, name)
        tmp = out + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, out)

    # -- column defaults (Iceberg v3 initial-default on ADD COLUMN) -----------
    def add_column_default(self, column: str, dtype: str, default) -> None:
        """Iceberg v3 INITIAL DEFAULT (``ALTER TABLE ... ADD COLUMN ...
        DEFAULT ...``): METADATA-ONLY — files written BEFORE the add read
        the default for every row; files written AFTER carry the column
        physically, and a NULL they wrote stays NULL (the default is an
        initial-value for pre-existing rows, NOT a NULL-coalesce — the
        distinction ``coalesce`` over a merged scan cannot make, and the
        grouped read funnel can: only file groups physically LACKING the
        column get the literal)."""
        cur = snaplog.declared(self._snaps, snaplog.DEFAULTS)
        cur[column] = {"type": DataType.fromDDL(dtype).jsonValue(), "default": default}
        self._declare(snaplog.DEFAULTS, cur)

    def _read_paths(
        self, m: dict, files: list[str], with_meta: bool = False
    ) -> DataFrame:
        """The one parquet-read funnel under all table reads: data files
        ``files`` of snapshot ``m`` under the table schema the log records
        (``snaplog.table_schema``; added columns read NULL over old files
        — T3). No footer is opened and no schema-inference job runs.
        Files are GROUPED by how the schema each was written under
        differs from the table's: the type of each column it wrote
        narrower than the table type (a widened column's old generations
        — Spark's scan cannot read every narrower physical type as the
        wider one, INT64 as double for one) and the absence of each
        defaulted column. A table whose files all match its schema is one
        group. Each group is scanned under the table schema with its own
        narrower types, cast up to the table types and given the initial
        default where a defaulted column is physically absent, and the
        groups union back. ``_metadata`` provenance must be captured per
        group (scan columns do not survive a union), so the meta
        projection happens here, not on the merged result.

        Scale: planning reads the snapshot manifest only; groups are
        bounded by the number of schema changes the table has seen (a
        handful over its life), and each stays one ordinary vectorized
        scan."""
        table = snaplog.table_schema(self._snaps, m)
        types = {f["name"]: f["type"] for f in table["fields"]}
        dfl = snaplog.declared(self._snaps, snaplog.DEFAULTS)
        groups: dict[tuple, list[str]] = {}
        for f in files:
            rec = m["schemas"][m["file_schemas"][f]]
            have = {x["name"]: x["type"] for x in rec["fields"]}
            sig = tuple(
                (c, have.get(c))
                for c, t in types.items()
                if have.get(c, t) != t or (c in dfl and c not in have)
            )
            groups.setdefault(sig, []).append(os.path.join(self.path, "data", f))
        target = StructType.fromJson(table)
        out = None
        for sig, paths in groups.items():
            # the table schema with the group's narrower types; an absent
            # defaulted column reads NULL until its literal replaces it
            narrow = dict(sig)
            read = [
                dict(x, type=narrow.get(x["name"]) or x["type"])
                for x in table["fields"]
            ]
            df = self.spark.read.schema(
                StructType.fromJson({"type": "struct", "fields": read})
            ).parquet(*paths)
            if with_meta:  # provenance: file basename + row index
                df = df.select(
                    _file_name().alias("_df_file"),
                    F.col("_metadata.row_index").alias("_df_pos"),
                    "*",
                )
            for c, t in sig:
                col = F.col(c) if t else F.lit(dfl[c]["default"])
                df = df.withColumn(c, col.cast(target[c].dataType))
            out = df if out is None else out.unionByName(df)
        return out

    # -- row lineage (Iceberg v3 _row_id) --------------------------------------
    def _lineage_path(self) -> str:
        return os.path.join(self.path, "snapshots", "lineage.json")

    def lineage_enabled(self) -> bool:
        return os.path.exists(self._lineage_path())

    def enable_row_lineage(self) -> None:
        """Iceberg v3 ROW LINEAGE: every row gets a stable ``_row_id``
        that survives compaction and rewrites. Like Iceberg, ids are NOT
        written into data files on append — the commit assigns each new
        file a ``first_row_id`` range in the manifest and a reader
        derives ``_row_id = first_row_id + row position`` from scan
        metadata (zero storage, zero write amplification). Only a
        REWRITE materializes the column physically (the file then
        carries ``first_row_id = null`` in the manifest and reads its
        ids from data) — exactly the v3 spec's materialize-on-rewrite
        rule. Within one commit, multi-file ranges are assigned in file-
        name order (stable per committed manifest; the entry's fixture
        uses one file per append so values are corpus-deterministic)."""
        tmp = self._lineage_path() + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"enabled": True}, fh)
        os.replace(tmp, self._lineage_path())

    def _assign_row_lineage(self, head: dict, files: list[str]) -> tuple:
        """(first_row_ids, next_row_id) for a commit over ``head``: carried
        files keep their recorded range; new files containing a physical
        ``_row_id`` column are marked materialized (null range); other new
        files get the next contiguous range, sized by their footer row
        count."""
        import pyarrow.parquet as pq

        fri = dict(head.get("first_row_ids", {}))
        next_id = head.get("next_row_id", 0)
        for f in sorted(f for f in files if f not in fri):
            md = pq.ParquetFile(os.path.join(self.path, "data", f)).metadata
            if "_row_id" in md.schema.names:
                fri[f] = None  # materialized: ids live in the data file
            else:
                fri[f] = next_id
                next_id += md.num_rows
        return {f: fri[f] for f in files}, next_id

    def read_lineage(self, version: int | None = None) -> DataFrame:
        """The table WITH its ``_row_id`` column: derived from
        (first_row_id + row position) for append-born files, read from
        data for materialized (rewritten) files. The derivation is a
        map-side expression over scan metadata — a bounded
        file→first_row_id literal map here; a deployment with millions
        of files broadcast-joins the manifest instead (same plan)."""
        m = self._snapshot(version)
        if not m["files"]:
            raise ValueError("empty table")
        fri = m.get("first_row_ids", {})
        derived = [f for f in m["files"] if fri.get(f) is not None]
        phys = [f for f in m["files"] if fri.get(f) is None]
        out = None
        if derived:
            df = self._read_scoped(m, derived, keep_meta=True)
            pairs = []
            for f in derived:
                pairs.extend([F.lit(f), F.lit(int(fri[f]))])
            df = df.withColumn(
                "_row_id",
                F.element_at(F.create_map(*pairs), F.col("_df_file"))
                + F.col("_df_pos"),
            ).drop("_df_file", "_df_pos")
            out = df
        if phys:
            df = self._read_scoped(m, phys)
            out = df if out is None else out.unionByName(df)
        return out

    def rewrite_preserving_lineage(self, target_files: int = 1) -> int:
        """``rewrite_data_files`` under row lineage: the rewrite
        MATERIALIZES ``_row_id`` into the new files (the only moment ids
        are ever written), so identities survive arbitrary re-bucketing;
        the commit marks the files materialized and ``next_row_id``
        carries forward unchanged (a rewrite creates no rows)."""
        base = self.current_version
        df = self.read_lineage(version=base)
        return self._commit_rewrite(
            base, self._write_files(df, target_files), "compact"
        )

    # -- table statistics files (Iceberg Puffin / ANALYZE TABLE role) ---------
    def _ndv_stats_path(self, version: int) -> str:
        return os.path.join(self.path, "snapshots", f"stats_v{version}_ndv.json")

    def write_column_stats(self, columns: list[str]) -> dict:
        """The Puffin statistics-file role (Iceberg's
        ``compute_table_stats`` procedure writing
        apache-datasketches-theta-v1 NDV blobs, snapshot-pinned): one
        aggregation pass builds a mergeable HLL sketch per column
        (map-side partial sketches union at the exchange — the same
        mergeability Puffin relies on to combine per-manifest stats) and
        the estimates land in a sidecar keyed to the CURRENT snapshot.
        CBO join planning reads these instead of scanning data. Cost at
        100 TB: one corpus pass per ANALYZE, amortized across every plan
        that consults it."""
        version = self.current_version
        df = self.read(version=version)
        aggs = [
            F.hll_sketch_estimate(F.hll_sketch_agg(c)).alias(c)
            for c in columns
        ]
        row = df.agg(*aggs, F.count(F.lit(1)).alias("_rows")).collect()[0]
        stats = {
            "rows": int(row["_rows"]),
            "ndv": {c: int(row[c]) for c in columns},
        }
        out = self._ndv_stats_path(version)
        tmp = out + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, out)
        return stats

    def column_stats(self, version: int | None = None) -> dict:
        """The snapshot-pinned NDV statistics (raises if ANALYZE never
        ran for that snapshot — stats never silently go stale across
        snapshots, Iceberg's statistics-file versioning rule)."""
        version = self._snapshot(version).get("version", 0)
        with open(self._ndv_stats_path(version)) as fh:
            return json.load(fh)

    # -- bloom file index (point-lookup pruning beyond min/max) ---------------
    def build_bloom_index(self, column: str) -> dict:
        """Per-data-file Bloom filter over an integer ``column`` — the
        index min/max stats cannot replace: a point lookup on a
        high-cardinality column that is NOT the clustering key sees every
        file's [min,max] span the whole domain, so footer pruning reads
        everything; a per-file Bloom membership bitset skips every file
        the key provably isn't in. Iceberg exposes exactly this as
        ``write.parquet.bloom-filter-enabled.column.<col>`` (filters live
        in the parquet footers); here the bitsets ride a snapshot-pinned
        sidecar next to the manifests, rebuilt per commit like manifests.

        Hash family: k=4 universal hashes h_i(x) = ((a_i*x + b_i) mod P)
        mod m with fixed integer constants — exact arithmetic any engine
        reproduces bit-for-bit (the oracle recomputes the same bitsets in
        SQL). One Spark job builds the whole index: explode the k
        positions per row, groupBy file, collect the distinct-position
        set. Driver-side sidecar write is bounded by files × m bits
        (m=65536 → 8 KiB/file ceiling — at 1e5 files that is ~a GiB of
        metadata, the same order Iceberg pays keeping blooms in footers;
        a cluster deployment shards the sidecar like
        ``rewrite_manifests`` shards manifests). NULLs set no bits: a
        point predicate ``col = v`` never matches NULL rows (IS NULL
        planning is :meth:`plan_scan`'s job)."""
        version = self.current_version
        m = self._manifest(version)
        src = (
            self._read_paths(m, m["files"], with_meta=True)
            .where(F.col(column).isNotNull())
            .select(
                F.col("_df_file").alias("f"), F.col(column).cast("long").alias("x")
            )
        )
        pos = [
            ((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(BLOOM_P))
            % F.lit(BLOOM_M)
            for a, b in zip(BLOOM_A, BLOOM_B)
        ]
        agg = (
            src.select("f", F.explode(F.array(*pos)).alias("p"))
            .groupBy("f")
            .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        )
        idx = {r["f"]: [int(v) for v in r["ps"]] for r in agg.collect()}
        for f in m["files"]:
            idx.setdefault(f, [])
        out = snaplog.bloom_path(self._snaps, version, column)
        tmp = out + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(idx, fh)
        os.replace(tmp, out)
        return idx

    def plan_scan_bloom(self, column: str, value: int) -> dict:
        """Point-lookup scan planning from the Bloom sidecar: a file is
        read iff ALL k probe positions are set in its bitset (no false
        negatives by construction — the correctness invariant the entry's
        oracle checks via the row count; false positives only cost reads,
        and the report counts them)."""
        version = self.current_version
        idx = snaplog.bloom_sidecar(self._snaps, version, column)
        if idx is None:
            raise ValueError(f"no Bloom index on {column!r} at v{version}")
        files = self._manifest(version)["files"]
        read = [f for f in files if snaplog.bloom_may_contain(idx, f, int(value))]
        return {
            "files_total": len(files),
            "files_read": read,
            "files_skipped": len(files) - len(read),
        }

    # -- commits -------------------------------------------------------------
    # -- manifest-file layer (Iceberg: manifest list → manifest files) -------
    def _manifest_dir(self) -> str:
        d = os.path.join(self.path, "snapshots", "manifests")
        os.makedirs(d, exist_ok=True)
        return d

    def _entry_stats(self, file: str) -> dict:
        """Footer ``[min, max, null_count, rows]`` of every
        ``stats_cols`` column for one data file — ONE footer read covers
        all columns. JSON-ready (timestamps → tz-normalized ISO strings,
        which compare lexicographically exactly like the instants they
        encode). A column whose stats the footer cannot vouch for is
        omitted (conservative downstream), so every recorded stat has a
        known null count and row count; an all-NULL column carries
        ``[None, None, n, n]``, which prunes under IS NOT NULL and any
        comparison."""
        import datetime as _dt

        st = snaplog.footer_stats(
            os.path.join(self.path, "data", file), self.stats_cols
        )
        out: dict = {}
        for col, (lo, hi, nulls, rows) in st.items():
            if nulls is None:
                continue
            if isinstance(lo, _dt.datetime):
                lo, hi = lo.isoformat(), hi.isoformat()
            out[col] = [lo, hi, nulls, rows]
        return out

    def _write_manifest_file(self, version: int, entries: list[str]) -> str:
        name = f"m{version}-{uuid.uuid4().hex[:8]}.json"
        doc: dict = {"entries": entries}
        if self.stats_cols:
            # Iceberg writers carry per-file column stats into the
            # manifest at commit time — one footer read per NEW file
            # here buys footer-free scan planning forever after:
            # ``col_stats`` is {entry: {col: [min, max, null_count,
            # rows]}} (P:180-188's per-column stats).
            col_stats = {}
            for e in entries:
                es = self._entry_stats(e)
                if es:
                    col_stats[e] = es
            doc["stats_cols"] = list(self.stats_cols)
            doc["col_stats"] = col_stats
        with open(os.path.join(self._manifest_dir(), name), "w") as fh:
            json.dump(doc, fh)
        return name

    def _manifest_summary(self, name: str):
        """Per-column aggregate {col: [min, max, null_count, rows]} of one
        manifest's entry stats — the Iceberg MANIFEST-LIST partition
        summary (manifest lists carry per-partition-field lower/upper
        bounds + contains-null; for a table whose files are clustered on
        the stats columns these column summaries ARE the partition
        summaries), carried in the snapshot JSON so the planner can skip
        a whole manifest without even opening it (one json read here, at
        commit time). A column appears only when EVERY entry carried its
        stats (conservative: otherwise the manifest must be opened for
        that column); None when no column qualifies."""
        with open(os.path.join(self._manifest_dir(), name)) as fh:
            doc = json.load(fh)
        ents = doc["entries"]
        cs = doc.get("col_stats", {})
        summary: dict = {}
        for col in doc.get("stats_cols", []):
            vals = [cs[e][col] for e in ents if e in cs and col in cs[e]]
            if len(vals) != len(ents) or not vals:
                continue
            summary[col] = _agg_col_stats(vals)
        return summary or None

    def manifest_entries(self, name: str) -> list[str]:
        """Data-file entries of one physical manifest file (one planning
        GET in Iceberg terms)."""
        with open(os.path.join(self._manifest_dir(), name)) as fh:
            return json.load(fh)["entries"]

    def manifest_list(self, version: int | None = None) -> list[dict]:
        """The snapshot's manifest list (Iceberg: ``<tbl>.manifests``):
        one row per physical manifest file with entry count and bytes."""
        out = []
        m = self._snapshot(version)
        for name in m.get("manifests", []):
            p = os.path.join(self._manifest_dir(), name)
            out.append(
                {
                    "manifest": name,
                    "entries": len(self.manifest_entries(name)),
                    "bytes": os.path.getsize(p),
                }
            )
        return out

    def planning_gets(self, version: int | None = None) -> int:
        """Metadata GETs a scan of this snapshot must issue before any
        data read: 1 for the snapshot/manifest-list + 1 per manifest file
        — the reference's planning-I/O pathology metric
        (aws-community-builders-presentation.md:247-258: 43,203 GETs)."""
        m = self._snapshot(version)
        return 1 + len(m.get("manifests", []))

    def _carry_manifests(
        self, version: int, head: dict, files: list[str]
    ) -> list[str]:
        """Manifest refs for a commit of ``files`` at ``version`` over
        ``head``: the head's manifests carry forward pruned of fully-dead
        refs (every entry rewritten away), plus ONE new manifest file for
        the live files no carried manifest lists — the entries this
        commit introduces (Iceberg's append behavior, and exactly the
        mechanism that accrues 525,600 manifests/yr under 10-min
        micro-batch commits (P:233-243) until ``rewrite_manifests``), and
        any file a commit without the manifest layer (the
        ``format("snapshot")`` writer) left unlisted."""
        live = set(files)
        carried: list[str] = []
        covered: set[str] = set()
        for name in head.get("manifests", []):
            entries = self.manifest_entries(name)
            if any(e in live for e in entries):
                carried.append(name)
                covered.update(entries)
        uncovered = [f for f in files if f not in covered]
        if uncovered:
            carried.append(self._write_manifest_file(version, uncovered))
        return carried

    def _try_commit(
        self,
        version: int,
        files: list[str],
        operation: str,
        head: dict,
        schema: dict | None = None,
        delete_files: list[dict] | None = None,
        prev: dict | None = None,
        manifests: list[str] | None = None,
    ) -> bool:
        """One compare-and-swap attempt: exclusively create
        ``v<version>.json`` over ``head``, the manifest of ``version - 1``
        (``snaplog.create``; the loop around it is ``snaplog.commit``).
        ``schema`` is the Spark JSON schema the files new to ``head`` were
        written under; ``delete_files`` and ``prev`` default to the
        head's (see ``snaplog.snapshot``, which refuses a schema the table
        cannot read before any manifest file is written). ``manifests``
        overrides the derived manifest-file refs (the
        ``rewrite_manifests`` path); a losing attempt's freshly written
        manifest file is unlinked immediately (Iceberg leaves such
        orphans to GC; we know the attempt lost, so clean up inline)."""
        manifest = snaplog.snapshot(
            version, operation, files, head, self._snaps, schema, delete_files, prev
        )
        own_manifest: str | None = None
        if manifests is None:
            manifests = self._carry_manifests(version, head, files)
            own_manifest = next(
                (n for n in manifests if n.startswith(f"m{version}-")), None
            )
        # manifest-LIST summaries (Iceberg's partition/column summaries):
        # carried refs copy the head's summary; only NEW manifest files
        # are opened — the planner then skips whole manifests from the
        # snapshot read alone, zero manifest GETs
        summaries: dict = {}
        if self.stats_cols and manifests:
            prev_sum = head.get("manifest_summaries", {})
            for nm in manifests:
                # the None verdict is cached too (stored as null): a
                # stats-less manifest is summarized once, not re-opened
                # on every future commit
                summaries[nm] = (
                    prev_sum[nm]
                    if nm in prev_sum
                    else self._manifest_summary(nm)
                )
        # partition-spec lineage (Iceberg partition evolution): the commit
        # records the table's CURRENT spec, and every file keeps the spec
        # it was written under — old data is never rewritten on an ALTER
        # TABLE ... ADD PARTITION FIELD; the planner evaluates each file
        # against its own spec (here: uniformly via its stats/bounds)
        prev_specs = head.get("file_specs", {})
        manifest.update(
            spec=self.partition_spec,
            file_specs={
                f: prev_specs.get(f, self.partition_spec) for f in files
            },
            manifests=manifests,
            manifest_summaries=summaries,
        )
        if self.lineage_enabled():
            fri, next_id = self._assign_row_lineage(head, files)
            manifest["first_row_ids"] = fri
            manifest["next_row_id"] = next_id
        if snaplog.create(
            os.path.join(self._snaps, f"v{version}.json"), manifest
        ):
            return True
        if own_manifest is not None:
            os.unlink(os.path.join(self._manifest_dir(), own_manifest))
        return False

    def plan_scan_manifests(
        self,
        lo=None,
        hi=None,
        version: int | None = None,
        predicates: dict | None = None,
    ) -> dict:
        """Scan planning from MANIFEST stats alone (Iceberg's actual
        planning path): ZERO data-file footer reads — versus
        :meth:`plan_scan`'s 1 + |files| GETs walking footers. THREE
        pruning levels, all exact: (0) manifest-LIST partition/column
        summaries carried in the snapshot skip whole manifests with NO
        manifest GET at all (the level that makes time-ordered ingest
        plan in ~2 GETs); (1) a surviving/unsummarized manifest's
        per-column aggregate stats; (2) per-entry stats. Entries (and
        manifests) without stats for a predicate column are
        conservatively read/opened on that column.

        ``predicates`` is :meth:`plan_scan`'s mapping over any subset of
        ``stats_cols`` — ``{column: (lo, hi) | "is_null" |
        "is_not_null"}`` — and a file survives only if EVERY predicate
        may match its stats under the one rule ``snaplog.may_match``:
        ranges skip disjoint bounds and provably all-NULL files,
        ``is_null`` skips stats proving ZERO nulls (Iceberg's
        contains-null=false) and ``is_not_null`` stats proving ALL rows
        null (contains-only-null). ``lo``/``hi`` alone is single-column
        sugar for {primary: (lo, hi)}. Bounds must be in the stats'
        serialized form (ISO strings for timestamps)."""
        conj = snaplog.conjuncts(
            dict(predicates) if predicates else {self.stats_col: (lo, hi)}
        )
        cols = {c for c, _, _ in conj}
        m = self._snapshot(version)
        if m["files"] and "manifests" not in m:
            # a commit path without the manifest layer (the
            # format("snapshot") writer): no manifest lists its files,
            # so a manifest plan would silently skip them
            raise ValueError(
                f"snapshot v{m.get('version')} of {self.path} has no"
                " manifests record; manifest planning would miss files"
            )
        live = set(m["files"])
        gets = 1
        read: list[str] = []
        manifests = m.get("manifests", [])
        summaries = m.get("manifest_summaries", {})
        skipped_manifests = 0
        skipped_by_summary = 0
        for name in manifests:
            # level 0 — manifest-LIST summary: skip the whole manifest
            # from the snapshot read alone, NO manifest GET at all
            # (Iceberg's partition summaries; a column summary exists
            # only when every entry carried its stats, so the skip is
            # exact)
            if not snaplog.survives(summaries.get(name) or {}, conj):
                skipped_manifests += 1
                skipped_by_summary += 1
                continue
            gets += 1
            with open(os.path.join(self._manifest_dir(), name)) as fh:
                doc = json.load(fh)
            ent = [e for e in doc["entries"] if e in live]
            if not ent:
                continue
            cs = doc.get("col_stats", {})
            # level 1 — manifest aggregate per predicate column (only
            # exact when every live entry carries that column's stats)
            agg = {}
            for c in cols:
                vals = [cs[e][c] for e in ent if e in cs and c in cs[e]]
                if len(vals) == len(ent):
                    agg[c] = _agg_col_stats(vals)
            if not snaplog.survives(agg, conj):
                skipped_manifests += 1
                continue
            # level 2 — per-entry stats, conjunction across columns
            read += [e for e in ent if snaplog.survives(cs.get(e, {}), conj)]
        return {
            "files_total": len(m["files"]),
            "files_read": read,
            "manifests_total": len(manifests),
            "manifests_skipped": skipped_manifests,
            "skipped_by_summary": skipped_by_summary,
            "planning_gets": gets,
            # the same plan without manifest-list summaries / walking
            # data-file footers instead
            "gets_without_summaries": 1 + len(manifests),
            "footer_path_gets": 1 + len(m["files"]),
        }

    def rewrite_manifests(self, target_manifests: int = 1) -> int:
        """Metadata-only manifest compaction (Iceberg: ``CALL
        system.rewrite_manifests``) — the cure for the reference's
        metadata pathology that data-file compaction does NOT fix:
        10-minute Firehose commits accrue ≈525,600 manifests ≈ 78 GB/yr
        (aws-community-builders-presentation.md:233-243) and query
        planning pays one GET per manifest (P:247-258 — 43,203 GETs).
        Coalesces the live data-file entries into ``target_manifests``
        balanced manifest files and commits — the data-file list,
        sequence numbers, and tombstones are carried byte-identical, so
        reads are unchanged (test-pinned); only planning I/O shrinks.
        CAS loop: a concurrent append re-bases and regroups (its new
        files are included on retry), never lost."""

        def attempt(base: int, head: dict) -> bool:
            files = head["files"]
            n = max(1, min(target_manifests, len(files) or 1))
            groups = [files[i::n] for i in range(n) if files[i::n]]
            refs = [
                self._write_manifest_file(base + 1, g) for g in groups
            ]
            if self._try_commit(
                base + 1, files, "rewrite_manifests", head=head, manifests=refs
            ):
                return True
            for r in refs:  # lost the race: clean our orphaned manifests
                os.unlink(os.path.join(self._manifest_dir(), r))
            return False

        return snaplog.commit(self._snaps, "rewrite_manifests", attempt)

    @staticmethod
    def _check_live(name: str, base: int, files, head: dict) -> None:
        """Raise :class:`CommitConflict` unless every data file ``name``
        resolved against snapshot ``base`` is still live in ``head``: a
        concurrent rewrite replaced them, so the positions (or rows) the
        commit was computed from are gone — committing would silently
        miss or clobber the moved rows (Iceberg's rewrite / MERGE /
        position-delete validation failure)."""
        if not set(files) <= set(head["files"]):
            raise CommitConflict(
                f"{name} based on v{base} conflicts with a concurrent "
                "rewrite (the current snapshot no longer contains all its "
                "resolved files); re-read and retry"
            )

    def _commit_rewrite(
        self, base: int, written: tuple[list[str], dict], operation: str
    ) -> int:
        """Commit a rewrite of snapshot ``base`` (compact / merge) whose
        new files and their schema are ``written`` (:meth:`_write_files`):

        - files APPENDED concurrently since ``base`` are carried forward
          un-rewritten, so append-vs-rewrite is lost-update-free — the
          common production race (ingest keeps appending while maintenance
          compacts);
        - a concurrent REWRITE (any of ``base``'s files no longer present
          in the current snapshot) raises :class:`CommitConflict`, exactly
          Iceberg's rewrite validation failure — the caller re-reads and
          re-runs its rewrite rather than silently clobbering the other
          writer's result;
        - a concurrent MERGE-ON-READ DELETE (data files unchanged but new
          delete files present since ``base``) ALSO raises
          :class:`CommitConflict`: the rewrite read ``base``'s live rows,
          so committing it with ``delete_files=[]`` would resurrect the
          concurrently deleted keys. Real Iceberg's rewrite validation
          fails on new delete files the same way.
        """
        files, schema = written
        base_m = self._manifest(base)
        base_files = set(base_m["files"])
        base_dels = {d["file"] for d in base_m.get("delete_files", [])}

        def attempt(cur: int, head: dict) -> bool:
            self._check_live(operation, base, base_files, head)
            cur_dels = {d["file"] for d in head.get("delete_files", [])}
            if cur_dels - base_dels:
                raise CommitConflict(
                    f"{operation} based on v{base} conflicts with a "
                    f"concurrent merge-on-read delete (current v{cur} "
                    "carries delete files not in the base); committing "
                    "would resurrect the deleted rows — re-read and retry"
                )
            delta = [f for f in head["files"] if f not in base_files]
            return self._try_commit(
                cur + 1,
                files + delta,
                operation,
                head=head,
                schema=schema,
                delete_files=[],
            )

        return snaplog.commit(self._snaps, operation, attempt)

    def _write_files(
        self, df: DataFrame, n_files: int | None
    ) -> tuple[list[str], dict]:
        """Write ``df`` as new data files; returns their names and the
        Spark JSON schema they were written under (what the commit
        records for them)."""
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex[:8]}")
        if n_files:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(staging)
        added = []
        for f in os.listdir(staging):
            if f.endswith(".parquet"):
                new = f"{uuid.uuid4().hex[:12]}.parquet"
                shutil.move(
                    os.path.join(staging, f), os.path.join(self.path, "data", new)
                )
                added.append(new)
        shutil.rmtree(staging)
        return added, df.schema.jsonValue()

    def ingest_files(
        self,
        local_paths: list[str],
        operation: str = "append",
        schema: StructType | None = None,
    ) -> int:
        """Adopt pre-written parquet files of one schema into the table in
        ONE commit (Iceberg: ``add_files`` / import procedure). Same CAS
        loop as ``append``; the files must already be finished parquet on
        local disk — they are moved, not copied. ``schema`` is the Spark
        schema they were written under; without it the call infers it
        (one Spark job, whoever wrote the files) and raises a ValueError
        when their parquet schemas differ."""
        if schema is None and local_paths:
            import pyarrow.parquet as pq

            first = pq.read_schema(local_paths[0]).remove_metadata()
            for p in local_paths[1:]:
                if not pq.read_schema(p).remove_metadata().equals(first):
                    raise ValueError(
                        f"ingest_files: {p} and {local_paths[0]} differ in "
                        "schema; adopt each schema in its own call"
                    )
            schema = self.spark.read.parquet(*local_paths).schema
        added = []
        for p in local_paths:
            new = f"{uuid.uuid4().hex[:12]}.parquet"
            shutil.move(p, os.path.join(self.path, "data", new))
            added.append(new)
        return self._append_files(
            (added, schema.jsonValue() if schema else None), operation
        )

    def _append_files(self, written: tuple[list[str], dict], operation: str) -> int:
        """Commit ``written`` (finished files under ``data/`` and their
        Spark JSON schema) on top of the head, whatever it is by then:
        the CAS loop re-bases on every lost race, so no concurrently
        committed file or tombstone is ever dropped (the lost-update
        hazard of a plain read-modify-write)."""
        added, schema = written
        return snaplog.commit(
            self._snaps,
            operation,
            lambda base, head: self._try_commit(
                base + 1, head["files"] + added, operation, head=head, schema=schema
            ),
        )

    # -- write-audit-publish (staged snapshots / WAP) ------------------------
    def _staged_path(self, wap_id: str) -> str:
        return os.path.join(self.path, "snapshots", f"staged-{wap_id}.json")

    def stage_append(
        self, df: DataFrame, wap_id: str, n_files: int | None = None
    ) -> None:
        """WAP step 1 — WRITE: land the batch's data files and a STAGED
        manifest (``staged-<wap_id>.json``) that the version listing
        ignores — main's readers cannot see the batch (Iceberg:
        ``spark.wap.id`` staged commits). Idempotent-per-wap_id: a
        restaged id replaces its manifest; the superseded files await
        orphan GC."""
        added, schema = self._write_files(df, n_files)
        m = {
            "wap_id": wap_id,
            "operation": "wap.append",
            "base_version": self.current_version,
            "files": added,
            "schema": schema,
            "timestamp": time.time(),
        }
        tmp = self._staged_path(wap_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
        os.rename(tmp, self._staged_path(wap_id))

    def read_staged(self, wap_id: str) -> DataFrame:
        """WAP step 2 — AUDIT: read main AS IF the staged batch were
        published, without committing anything; the validation query
        surface. It reads the manifest :meth:`publish_staged` would commit
        over the current head: the head's tombstones, widenings, defaults
        and renames apply, and the staged files take the next sequence
        number, so no equality delete of the head applies to them."""
        with open(self._staged_path(wap_id)) as fh:
            staged = json.load(fh)
        cur = self.current_version
        head = self._manifest(cur)
        m = snaplog.snapshot(
            cur + 1,
            "wap.audit",
            head["files"] + staged["files"],
            head,
            self._snaps,
            staged["schema"],
        )
        return self._apply_renames(self._read_scoped(m, m["files"]))

    def publish_staged(self, wap_id: str) -> int:
        """WAP step 3 — PUBLISH: fast-forward main to include the audited
        batch via the same CAS loop as ``append`` (Iceberg:
        ``cherrypick_snapshot``); the staged manifest is retired."""
        with open(self._staged_path(wap_id)) as fh:
            staged = json.load(fh)
        version = self._append_files(
            (staged["files"], staged["schema"]), "wap.publish"
        )
        os.remove(self._staged_path(wap_id))
        return version

    def abort_staged(self, wap_id: str) -> None:
        """Audit failed: drop the staged manifest; the batch's data files
        become orphans and the next ``remove_orphan_files()`` reclaims
        them (GC treats files of still-staged manifests as live, so only
        the aborted batch is collected)."""
        os.remove(self._staged_path(wap_id))

    # -- branches & tags (Iceberg refs) ---------------------------------------
    def create_tag(self, name: str, version: int | None = None) -> int:
        """TAG: an immutable named pointer to a snapshot (Iceberg:
        ``ALTER TABLE t CREATE TAG name [AS OF VERSION v]``) — the
        audit/repro primitive ('what exactly did the Q3 model train
        on?'). Metadata-only: one tiny JSON, zero data I/O."""
        v = version if version is not None else self.current_version
        if v not in snaplog.versions(self._snaps):
            raise ValueError(f"no snapshot v{v} to tag")
        # exclusive create: a tag is IMMUTABLE — re-tagging an existing
        # name must refuse (Iceberg: CREATE TAG fails on a live name)
        doc = {"name": name, "version": v, "timestamp": time.time()}
        if not snaplog.create(snaplog.tag_path(self._snaps, name), doc):
            raise ValueError(f"tag {name!r} already exists")
        return v

    def read_tag(self, name: str) -> DataFrame:
        """Read the snapshot a tag pins (Iceberg: ``VERSION AS OF 'name'``).
        Tagged versions survive unrelated main commits by construction."""
        return self.read(version=self._snapshot(tag=name)["version"])

    def branch_version(self, name: str) -> int:
        v = snaplog.current(self._snaps, f"branch-{name}-v")
        if not v:
            raise ValueError(f"no branch {name!r}")
        return v

    def _branch_manifest(self, name: str, version: int) -> dict:
        return snaplog.read(self._snaps, version, f"branch-{name}-v")

    def create_branch(self, name: str, version: int | None = None) -> None:
        """BRANCH: a named, independently-writable snapshot lineage
        (Iceberg: ``ALTER TABLE t CREATE BRANCH name``) seeded from a
        main snapshot — the isolation primitive behind the audit-branch /
        ``spark.wap.branch`` ingestion pattern: writers land on the
        branch, validation reads the branch, main's readers never see a
        row until :meth:`fast_forward`. Creation is metadata-only (the
        branch's v1 manifest references the seed snapshot's files)."""
        v = version if version is not None else self.current_version
        m = self._manifest(v)
        bm = snaplog.snapshot(1, "branch.create", m["files"], m, self._snaps)
        bm["base_main_version"] = v
        if not snaplog.create(
            os.path.join(self._snaps, f"branch-{name}-v1.json"), bm
        ):
            raise ValueError(f"branch {name!r} already exists")

    def append_to_branch(
        self, name: str, df: DataFrame, n_files: int | None = None
    ) -> int:
        """Append to a branch (Iceberg: ``writeTo(t).append()`` with the
        session's write branch set): same CAS re-base loop as ``append``,
        against the branch's own manifest chain — main is untouched."""
        self.branch_version(name)  # the branch must exist
        added, schema = self._write_files(df, n_files)
        prefix = f"branch-{name}-v"

        def attempt(base: int, m: dict) -> bool:
            bm = snaplog.snapshot(
                base + 1, "branch.append", m["files"] + added, m, self._snaps, schema
            )
            bm["base_main_version"] = m["base_main_version"]
            # branch-appended files take sequence number base_main + k for
            # the branch's k-th append — strictly ABOVE every tombstone
            # inherited from the seed snapshot (seq <= base_main), so a
            # key re-inserted on the branch after a main-side delete
            # survives branch reads (Iceberg v2 semantics); fast_forward
            # restamps them with the main version that publishes them
            bm["file_seqs"].update(dict.fromkeys(added, m["base_main_version"] + base))
            return snaplog.create(
                os.path.join(self._snaps, f"{prefix}{base + 1}.json"), bm
            )

        return snaplog.commit(self._snaps, "append_to_branch", attempt, prefix)

    def read_branch(self, name: str) -> DataFrame:
        """Read a branch head (Iceberg: ``VERSION AS OF 'name'`` /
        ``option("branch", name)``). Column renames are table-level
        metadata (field-id relabels), so they apply to branch reads
        exactly as to main (``read_tag`` inherits them via ``read``)."""
        m = self._branch_manifest(name, self.branch_version(name))
        return self._apply_renames(self._read_scoped(m, m["files"]))

    def fast_forward(self, name: str) -> int:
        """Publish a branch to main (Iceberg: ``CALL system.fast_forward
        ('t', 'main', name)``): main's pointer advances to the branch
        head in ONE metadata-only CAS commit — zero data I/O, the same
        publish economics as WAP. Requires main to still be at the
        branch's base (Iceberg's ancestor requirement); raises
        :class:`CommitConflict` otherwise — the caller rebases the
        branch or merges explicitly. Net-new branch files take the new
        main version as their data sequence number (they are committed
        to main BY this commit), so later MOR deletes scope correctly."""
        tip = self._branch_manifest(name, self.branch_version(name))
        base = tip["base_main_version"]
        cur = self.current_version
        if cur != base:
            raise CommitConflict(
                f"fast_forward({name!r}): main moved v{base} → v{cur} since "
                "the branch was created; main is not an ancestor of the "
                "branch head — rebase the branch and retry"
            )
        head = self._manifest(cur)
        if self._try_commit(
            cur + 1,
            tip["files"],
            f"fast_forward.{name}",
            head=head,
            delete_files=tip.get("delete_files", []),
            # schema ids from the tip; seqs from main, so a file carried
            # from main keeps its seq and a branch file takes cur + 1
            prev={**tip, "file_seqs": head.get("file_seqs", {})},
        ):
            return cur + 1
        raise CommitConflict(
            f"fast_forward({name!r}): lost the commit race for v{cur + 1}; "
            "main is no longer at the branch base — rebase and retry"
        )

    def append(self, df: DataFrame, n_files: int | None = None) -> int:
        """T1: atomic concurrent-safe append (Iceberg: ``writeTo(t)
        .append()``). Data files are written once; the manifest commit is a
        CAS loop: read the current version, propose base+1 with (base files
        + our files), and if another writer took that version first, re-read
        the new base and retry with its file list — no committed file is
        ever dropped (the lost-update hazard of a plain read-modify-write).
        Exercised by the two-writer test in tests/test_lifecycle.py."""
        return self._append_files(self._write_files(df, n_files), "append")

    def overwrite(self, df: DataFrame, n_files: int | None = None) -> int:
        """Full-table replace (Iceberg: ``writeTo(t).overwritePartitions()``):
        the new snapshot holds exactly the written files and no
        tombstones. A lost version race retries at the next version —
        last writer wins, the correct semantic for a full replace (real
        Iceberg's overwrite would conflict-fail instead)."""
        files, schema = self._write_files(df, n_files)
        return snaplog.commit(
            self._snaps,
            "overwrite",
            lambda base, head: self._try_commit(
                base + 1,
                files,
                "overwrite",
                head=head,
                schema=schema,
                delete_files=[],
            ),
        )

    def merge(self, source: DataFrame, keys: list[str], n_files: int | None = None) -> int:
        """MERGE INTO upsert (Iceberg ``MERGE INTO t USING s ON ... WHEN
        MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``, copy-on-write
        mode): target rows matching a source key are replaced by the source
        row, unmatched source rows are inserted, all in ONE atomic commit.

        Implementation is the copy-on-write plan Iceberg itself runs: keep =
        target LEFT ANTI source on the key, then keep ∪ source rewritten.
        At 100 TB the anti join is the cost center — Iceberg scopes the
        rewrite to files whose key ranges overlap the source (runtime group
        filtering); our parquet-native layer rewrites the full table, which
        is exact but O(|table|) per merge. The merge-on-read alternative
        (append + latest-wins read view) is ``cdc_latest_events``."""
        base = self.current_version
        target = self.read(version=base)
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(source)
        return self._commit_rewrite(
            base, self._write_files(merged, n_files), "merge"
        )

    def merge_full(
        self, source: DataFrame, keys: list[str], n_files: int | None = None
    ) -> dict:
        """The FULL-SYNC merge — ``MERGE INTO t USING s ON ... WHEN
        MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT WHEN NOT MATCHED
        BY SOURCE THEN DELETE`` (the BY SOURCE clause, Spark 3.4+/Iceberg
        1.3+): after the commit the table is exactly the source, and the
        call returns the merge ACCOUNTING (updated/inserted/deleted row
        counts — what a sync job logs and alerts on). One atomic rewrite
        commit; the counts come from two key anti-joins plus arithmetic,
        all computed BEFORE the swap so a concurrent-rewrite conflict
        leaves both table and report untouched.

        At 100 TB the counts are key-projection joins (narrow shuffles on
        the key only); Iceberg's runtime group filtering would scope the
        rewrite — the end state being ``source`` makes the full rewrite
        exact here. Source keys are assumed unique per MERGE semantics
        (Iceberg/Spark raise on multiple source matches; with duplicate
        source keys the 'updated' count here would count rows, not
        keys)."""
        base = self.current_version
        target = self.read(version=base)
        tk = target.select(*keys).distinct()
        sk = source.select(*keys).distinct()
        n_target, n_source = target.count(), source.count()
        n_deleted = tk.join(sk, keys, "left_anti").count()
        n_inserted = sk.join(tk, keys, "left_anti").count()
        n_updated = n_source - n_inserted
        version = self._commit_rewrite(
            base, self._write_files(source, n_files), "merge.full"
        )
        return {
            "version": version,
            "updated": n_updated,
            "inserted": n_inserted,
            "deleted": n_deleted,
            "rows_before": n_target,
            "rows_after": n_source,
        }

    def merge_mor(
        self, source: DataFrame, keys: list[str], n_files: int | None = None
    ) -> int:
        """MERGE INTO upsert, MERGE-ON-READ mode (Iceberg v2
        ``write.merge.mode=merge-on-read``): instead of rewriting the
        whole table (:meth:`merge`, copy-on-write), ONE commit

        - POSITION-DELETES the matched target rows — their (file,
          row_index) pairs come from one live scan semi-joined to the
          source keys, the exact match set a MERGE's join already
          computes — and
        - APPENDS the full source (updated rows + new inserts) as new
          data files.

        Cost is O(|source| + |matches|) tombstone/data I/O versus
        copy-on-write's O(|table|) rewrite — the reason MOR is the
        high-frequency-upsert mode; reads pay the (file,pos) anti-join
        until ``compact()`` materializes. The appended files take the
        commit's sequence number (> the tombstone's target files), so
        the new row versions are untouched by the delete by position
        construction alone. Semantics are identical to :meth:`merge`
        (oracle hash-equal, test-pinned)."""
        base, m, doomed = self._positions(
            lambda live: live.join(
                F.broadcast(source.select(*keys).distinct()), keys, "left_semi"
            )
        )
        tomb, _ = self._write_files(doomed, 1)
        added, schema = self._write_files(source, n_files)

        def attempt(cur: int, head: dict) -> bool:
            self._check_live("merge_mor", base, m["files"], head)
            dels = head.get("delete_files", []) + [
                {"file": f, "kind": "pos", "seq": cur + 1} for f in tomb
            ]
            return self._try_commit(
                cur + 1,
                head["files"] + added,
                "merge.mor",
                head=head,
                schema=schema,
                delete_files=dels,
            )

        return snaplog.commit(self._snaps, "merge_mor", attempt)

    def _positions(self, match) -> tuple[int, dict, DataFrame]:
        """``(base, manifest, positions)``: the head snapshot and the
        ``(file, pos)`` pairs of its live rows that ``match(live)`` keeps,
        resolved in one scan — Spark's ``_metadata.file_path`` /
        ``_metadata.row_index`` columns ARE the position vocabulary, stable
        because data files are immutable. Raises ``ValueError("empty
        table")`` before any write when the head holds no data file."""
        base = self.current_version
        m = self._manifest(base)
        if not m["files"]:
            raise ValueError("empty table")
        live = self._read_scoped(m, m["files"], keep_meta=True)
        return base, m, match(live).select(
            F.col("_df_file").alias("file"), F.col("_df_pos").alias("pos")
        )

    # -- reads ---------------------------------------------------------------
    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — METADATA ONLY, the Iceberg
        semantic (a rename is a field-id relabel in metadata.json; data
        files are NEVER rewritten): the mapping is recorded in
        ``table.json`` and :meth:`read` maps old-name columns through a
        COALESCE at scan time — the name-mapping device Iceberg itself
        uses for parquet imported without field ids. Chained renames
        (a→b→c) carry the whole alias history forward; newer names win
        the coalesce. A rename BACK (a→b then b→a) is legal: the target
        name is excluded from its own alias list, so files written under
        either generation's name still surface under the final name (the
        r13-advice fix — storing the target inside its own history made
        ``_apply_renames`` drop the just-coalesced column). Renaming onto
        a name that is itself a live rename target (a→b after c→b) is
        rejected — it would silently COALESCE two unrelated columns;
        Iceberg raises the same way. Scope: the user-facing :meth:`read`
        scan; the internal provenance readers (delete writers, changelog)
        keep physical names — matching Iceberg, where tombstones
        reference field ids, not names."""
        meta_path = os.path.join(self.path, "snapshots", "table.json")
        meta: dict = {}
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
        renames = meta.get("renames", {})
        if new != old and new in renames:
            raise ValueError(
                f"rename_column: {new!r} is already a live renamed column; "
                "renaming onto it would merge two unrelated columns"
            )
        olds = renames.pop(old, [])
        renames[new] = [o for o in olds + [old] if o != new]
        meta["renames"] = renames
        tmp = meta_path + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, meta_path)

    def _apply_renames(self, df: DataFrame) -> DataFrame:
        meta_path = os.path.join(self.path, "snapshots", "table.json")
        if not os.path.exists(meta_path):
            return df
        with open(meta_path) as fh:
            renames = json.load(fh).get("renames", {})
        if not renames:
            return df
        cols = set(df.columns)
        for new, olds in renames.items():
            # o != new is belt-and-braces with rename_column's store-side
            # filter: the target must never appear in its own alias list,
            # or the drop below would remove the just-coalesced column
            present = [o for o in reversed(olds) if o in cols and o != new]
            if not present:
                continue
            srcs = ([new] if new in cols else []) + present
            df = df.withColumn(
                new, F.coalesce(*[F.col(c) for c in srcs])
            ).drop(*present)
        return df

    def read(
        self, version: int | None = None, as_of: float | None = None
    ) -> DataFrame:
        """T4 time travel (Iceberg: ``VERSION AS OF`` / ``TIMESTAMP AS OF``).
        The scan schema is the table schema the snapshot records
        (:meth:`_read_paths`), so building the read opens no data-file
        footer and runs no Spark job, and added columns read NULL over
        old files (T3); recorded column renames map old-name files at
        scan time (see :meth:`rename_column`)."""
        m = self._snapshot(version, as_of)
        if not m["files"]:
            raise ValueError("empty table")
        return self._apply_renames(self._read_scoped(m, m["files"]))

    def _read_scoped(
        self, m: dict, files: list[str], keep_meta: bool = False
    ) -> DataFrame:
        """Live rows of snapshot-manifest ``m`` restricted to ``files``:
        the merge-on-read funnel under every table read. Tombstones apply
        by kind:

        - EQUALITY deletes are SEQUENCE-scoped (Iceberg v2): one applies
          only to data files whose seq <= its own, so a key re-inserted
          after the delete survives. Each row is tagged with its data
          file's seq, and the deletes of one key-column set apply in ONE
          anti-join on ``keys ∧ data_seq <= delete_seq``
          (:meth:`_join_equality`), however many delete files the
          snapshot carries.
        - POSITIONAL tombstones (v2 position deletes, v3 deletion
          vectors) are FILE-scoped: a ``(file, pos)`` pair names one row
          of one data file by its unique name, and that file was live
          when the position was resolved, so sequence scoping can never
          exclude it. All of them are read in ONE scan with the declared
          :data:`_POS_SCHEMA` (no schema-inference job) and applied with
          ONE anti-join on ``(file, row_index)`` over the whole file set
          — a read costs the same jobs whether the snapshot carries one
          tombstone file or hundreds.

        ``keep_meta=True`` retains the ``(_df_file, _df_pos)`` provenance
        columns (file name + row index) on the output — the position-
        delete writers and the changelog's positional pre-image pass need
        them."""
        dels = m.get("delete_files", [])
        positional = [
            os.path.join(self.path, "data", d["file"])
            for d in dels
            if d.get("kind") in _POSITIONAL
        ]
        equality = _equality_sets(dels)
        with_meta = keep_meta or bool(positional) or bool(equality)
        out = self._read_paths(m, files, with_meta=with_meta)
        if equality:
            out = _with_seq(out, m, files)
            for ds in equality:
                out = self._join_equality(out, ds, "left_anti")
            out = out.drop("_df_seq")
        if positional:
            out = self._join_positions(out, positional, "left_anti")
        if with_meta and not keep_meta:
            out = out.drop("_df_file", "_df_pos")
        return out

    def _join_equality(self, df: DataFrame, ds: list[dict], how: str) -> DataFrame:
        """``df`` (with provenance and ``_df_seq``, its data file's seq)
        joined to the equality-delete files ``ds`` of one key-column set
        (one entry of :func:`_equality_sets`) on ``keys ∧ _df_seq <=
        delete seq``. The delete files are read in one scan under the
        schema their entries record, each key tagged with its file's
        seq."""
        key_cols = ds[0]["key_cols"]
        keys = self.spark.read.schema(StructType.fromJson(ds[0]["schema"])).parquet(
            *[os.path.join(self.path, "data", d["file"]) for d in ds]
        )
        seqs = {d["file"]: d.get("seq", 1 << 62) for d in ds}
        keys = keys.select(
            *[F.col(c).alias(f"_eq{i}") for i, c in enumerate(key_cols)],
            _seq_of(_file_name(), seqs).alias("_del_seq"),
        )
        cond = F.col("_df_seq") <= F.col("_del_seq")
        for i, c in enumerate(key_cols):
            cond = cond & (F.col(c) == F.col(f"_eq{i}"))
        return df.join(keys, cond, how)

    def _join_positions(
        self, df: DataFrame, tomb_paths: list[str], how: str
    ) -> DataFrame:
        """``df`` (with provenance columns) joined on ``(file, pos)`` to
        the positional tombstone files ``tomb_paths``, read in ONE scan
        with the declared :data:`_POS_SCHEMA`."""
        tomb = self.spark.read.schema(_POS_SCHEMA).parquet(*tomb_paths)
        return df.join(
            tomb,
            (df["_df_file"] == tomb["file"]) & (df["_df_pos"] == tomb["pos"]),
            how,
        )

    def delete_where_mor(self, keys: DataFrame, key_cols: list[str]) -> int:
        """MERGE-ON-READ DELETE (Iceberg v2 equality deletes): write the
        doomed keys as a DELETE FILE and commit a manifest that keeps
        every data file but records the tombstones — a metadata-plus-
        tiny-file commit, no data rewrite (the 100 TB delete path: a
        GDPR/right-to-erasure pass costs O(|keys|), not O(|table|)).
        Readers anti-join the tombstones (``read``) with SEQUENCE
        SCOPING — a delete applies only to data files whose seq ≤ its
        own, so later re-inserts of the same key survive (Iceberg v2
        semantics, test-pinned); the next ``compact()`` materializes the
        deletes and clears them."""
        added, schema = self._write_files(keys.select(*key_cols).distinct(), 1)

        def attempt(base: int, head: dict) -> bool:
            dels = head.get("delete_files", []) + [
                {"file": f, "key_cols": key_cols, "seq": base + 1, "schema": schema}
                for f in added
            ]
            return self._try_commit(
                base + 1, head["files"], "delete.mor", head=head, delete_files=dels
            )

        return snaplog.commit(self._snaps, "delete_where_mor", attempt)

    def delete_where_positional(self, predicate) -> int:
        """MERGE-ON-READ POSITION DELETE (Iceberg v2's second delete
        encoding, the one copy-on-write MERGE/UPDATE rewrites produce):
        resolve the doomed rows' (data file, row index) pairs with ONE
        scan of the live table (:meth:`_positions`), write them as a
        position-delete file, and commit a manifest that keeps every
        data file. Readers anti-join on (file, pos) instead of keys
        (``_read_scoped``), which is why engines prefer position deletes
        when the match set is already known from a scan: the read-side
        join needs no key columns and never collides with a re-inserted
        key (positions are file-scoped by construction — built-in
        sequence scoping). ``compact()`` materializes and clears them
        exactly like equality deletes. Cost: O(|matches|) tombstone I/O,
        zero data rewrite."""
        base, m, positions = self._positions(lambda live: live.filter(predicate))
        added, _ = self._write_files(positions, 1)

        def attempt(cur: int, head: dict) -> bool:
            # a concurrent compact()/merge that rewrote a resolved file
            # would leave the (file, pos) tombstones dangling
            self._check_live("delete_where_positional", base, m["files"], head)
            dels = head.get("delete_files", []) + [
                {"file": f, "kind": "pos", "seq": cur + 1} for f in added
            ]
            return self._try_commit(
                cur + 1, head["files"], "delete.pos", head=head, delete_files=dels
            )

        return snaplog.commit(self._snaps, "delete_where_positional", attempt)

    def delete_where_dv(self, predicate) -> int:
        """MERGE-ON-READ delete with DELETION VECTORS (Iceberg **v3**'s
        delete encoding, replacing v2's accumulating position-delete
        files): at most ONE vector per data file, and a writer adding
        deletes to a file must MERGE the file's previous vector — so the
        read-side cost is one bitmap per file forever, instead of a
        scan of every tombstone file ever committed (the v2
        pathology this encoding was designed away from: a hot table
        taking frequent row-level deletes accretes one delete file per
        commit per touched data file until compaction). Positions are
        resolved from one live scan exactly like
        :meth:`delete_where_positional`; each affected data file then
        gets ONE new vector file = previous vector ∪ new positions
        (stored here as a (file, pos) parquet — the stand-in for the v3
        Puffin roaring bitmap; same information, same read-side join),
        and the commit REPLACES that file's old vector entry.

        All vectors land in ONE partitioned write: new positions ∪ the
        touched targets' previous vectors (semi-joined on ``file``),
        hash-repartitioned and ``partitionBy``-written on a copy of the
        target name, so each ``_dv=<target>/`` directory holds that
        target's single vector file (AQE may coalesce a column
        repartition, never split it). The job count is independent of
        how many data files the predicate touches. Conflict semantics
        are Iceberg's: a concurrent rewrite of a resolved file or a
        concurrent vector write against the same data file raises
        :class:`CommitConflict` (our merged vector was computed from a
        stale one) — the caller re-reads and retries. ``compact()``
        materializes and clears vectors like every other tombstone."""
        base, m, vectors = self._positions(lambda live: live.filter(predicate))
        old_dv = {
            d["target"]: d
            for d in m.get("delete_files", [])
            if d.get("kind") == "dv"
        }
        if old_dv:
            # v3 invariant: a touched file's new vector carries its
            # previous one. The live scan already excluded the old
            # positions, so the union is disjoint.
            prev = self.spark.read.schema(_POS_SCHEMA).parquet(
                *[
                    os.path.join(self.path, "data", d["file"])
                    for d in old_dv.values()
                ]
            )
            vectors = vectors.unionByName(
                prev.join(vectors.select("file"), "file", "left_semi")
            )
        staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex[:8]}")
        (
            vectors.withColumn("_dv", F.col("file"))
            .repartition("_dv")
            .write.option("maxRecordsPerFile", 0)
            .partitionBy("_dv")
            .parquet(staging)
        )
        new_files: dict[str, str] = {}
        try:
            for d in os.listdir(staging):
                if not d.startswith("_dv="):
                    continue  # _SUCCESS and its checksum
                target = unquote(d[len("_dv="):])
                parts = [
                    os.path.join(staging, d, f)
                    for f in os.listdir(os.path.join(staging, d))
                    if f.endswith(".parquet")
                ]
                if len(parts) != 1:
                    raise DeletionVectorLayoutError(
                        f"delete_where_dv: {len(parts)} vector files for "
                        f"{target!r}; expected exactly one"
                    )
                new = f"{uuid.uuid4().hex[:12]}.parquet"
                shutil.move(parts[0], os.path.join(self.path, "data", new))
                new_files[target] = new
        finally:
            shutil.rmtree(staging)
        if not new_files:
            return base  # nothing matched: no commit (Iceberg no-ops too)
        targets = sorted(new_files)

        def attempt(cur: int, head: dict) -> bool:
            self._check_live("delete_where_dv", base, m["files"], head)
            # seq follows the ATTEMPTED commit version (recomputed per
            # retry like every other tombstone writer): after a benign
            # concurrent append the vector must carry the version that
            # actually introduced it, or future seq-scoped reasoning
            # mis-scopes it
            new_entries = {
                t: {"file": f, "kind": "dv", "target": t, "seq": cur + 1}
                for t, f in new_files.items()
            }
            cur_dv = {
                d["target"]: d["file"]
                for d in head.get("delete_files", [])
                if d.get("kind") == "dv"
            }
            for t in targets:  # concurrent DV write on the same file?
                if cur_dv.get(t) != (old_dv.get(t) or {}).get("file"):
                    raise CommitConflict(
                        f"delete_where_dv: concurrent deletion vector on "
                        f"{t!r}; our merged vector is stale — re-read and "
                        "retry"
                    )
            dels = [
                d
                for d in head.get("delete_files", [])
                if not (
                    d.get("kind") == "dv" and d.get("target") in new_entries
                )
            ] + [new_entries[t] for t in targets]
            return self._try_commit(
                cur + 1, head["files"], "delete.dv", head=head, delete_files=dels
            )

        return snaplog.commit(self._snaps, "delete_where_dv", attempt)

    def delete_vectors(self, version: int | None = None) -> list[dict]:
        """The snapshot's deletion-vector inventory: one row per vectored
        data file with the vector's cardinality — the v3 invariant made
        inspectable (``len == len({targets})``, never stacking). Every
        vector is counted in ONE scan with the declared
        :data:`_POS_SCHEMA`, grouped by vector file name."""
        m = self._snapshot(version)
        dvs = [d for d in m.get("delete_files", []) if d.get("kind") == "dv"]
        if not dvs:
            return []
        counts = dict(
            self.spark.read.schema(_POS_SCHEMA)
            .parquet(*[os.path.join(self.path, "data", d["file"]) for d in dvs])
            .groupBy(F.col("_metadata.file_name"))
            .count()
            .collect()
        )
        return [
            {
                "target": d["target"],
                "vector": d["file"],
                "positions": counts.get(d["file"], 0),
            }
            for d in dvs
        ]

    def changelog(self, v_from: int, v_to: int, keys: list[str]) -> DataFrame:
        """Row-level CHANGELOG between two snapshots (Iceberg's changelog
        scan / Delta's table_changes): emits ``change_type`` ∈ {insert,
        delete, update_preimage, update_postimage} + the row. Computed the
        way a table format computes it — from the MANIFEST FILE DIFF, not
        a full two-version table diff: only files added/removed between
        the versions are read (at 100 TB a changelog over a merge touches
        the merge's rewritten files, not the table), then a keyed
        full-outer join classifies rows; rows identical on both sides are
        compaction-rewrite noise and drop out, so a pure compact commit
        yields an EMPTY changelog (test-pinned). MOR-delete commits are
        exact too: tombstones ADDED between the versions emit ``delete``
        rows with their full pre-image (joined against the v_from live
        state — the one part of a changelog that must touch matching data
        beyond the file diff, as in Iceberg's own changelog scan), and
        the removed-file side reads LIVE rows only (v_from's tombstones
        applied), so a later compaction doesn't re-report rows the
        tombstone interval already deleted."""
        mf, mt = self._manifest(v_from), self._manifest(v_to)
        from_set, to_set = set(mf["files"]), set(mt["files"])
        added = [f for f in mt["files"] if f not in from_set]
        removed = [f for f in mf["files"] if f not in to_set]

        # both sides read LIVE rows only, each under its own manifest's
        # sequence-scoped tombstones: on the added side, a key appended and
        # then MOR-deleted inside the interval is dead at v_to and must NOT
        # surface as an insert (its delete is interval-internal churn), while
        # a re-insert AFTER a delete (seq > delete seq) survives the scoping
        # and correctly emits; on the removed side, rows already MOR-deleted
        # at v_from must not re-classify as deletes when a rewrite later
        # drops their files
        a = self._read_scoped(mt, added) if added else None
        r = self._read_scoped(mf, removed) if removed else None
        ct = F.lit

        # tombstones added in (v_from, v_to]: emit full-pre-image deletes.
        # Pre-images come from KEPT files only (present in both manifests):
        # a tombstoned key whose v_from file was also rewritten away in the
        # interval is already classified as a delete by the full-outer join
        # below (it's in r but, with v_to's tombstone applied, not in a) —
        # emitting it here too would double-count. Sequence scoping applies
        # to equality deletes on the kept side as well: a kept file with
        # seq > the delete's seq is untouched by that tombstone.
        known = {d["file"] for d in mf.get("delete_files", [])}
        new_dels = [
            d for d in mt.get("delete_files", []) if d["file"] not in known
        ]
        mor_rows = None
        kept = [f for f in mf["files"] if f in to_set]
        hits = []
        new_pos = [
            os.path.join(self.path, "data", d["file"])
            for d in new_dels
            if d.get("kind") in _POSITIONAL
        ]
        new_eq = _equality_sets(new_dels)
        if kept and (new_pos or new_eq):
            live = self._read_scoped(mf, kept, keep_meta=True)
            # positional tombstones are file-scoped (see _read_scoped):
            # all of them apply in ONE semi-join. For a REPLACED deletion
            # vector the carried-over old positions are already dead in
            # v_from's live view, so the join yields rows for the NET-NEW
            # positions only — the diff falls out for free
            if new_pos:
                hits.append(self._join_positions(live, new_pos, "left_semi"))
            # equality deletes are sequence-scoped by v_to's seqs: one
            # semi-join per key-column set
            if new_eq:
                live = _with_seq(live, mt, kept)
                hits += [
                    self._join_equality(live, ds, "left_semi").drop("_df_seq")
                    for ds in new_eq
                ]
        for hit in hits:
            mor_rows = hit if mor_rows is None else mor_rows.unionByName(hit)
        if mor_rows is not None:
            if len(hits) > 1:
                # a row hit by more than one of them is deleted once; its
                # (file, row index) provenance names it exactly
                mor_rows = mor_rows.dropDuplicates(["_df_file", "_df_pos"])
            mor_rows = mor_rows.drop("_df_file", "_df_pos").select(
                ct("delete").alias("change_type"), "*"
            )

        def _with_mor(df: DataFrame) -> DataFrame:
            if mor_rows is None:
                return df
            return df.unionByName(mor_rows, allowMissingColumns=True)

        if a is None and r is None:
            if mor_rows is not None:
                return mor_rows
            base = self.read(version=v_to).limit(0)
            return base.select(ct("none").alias("change_type"), "*").limit(0)
        if r is None:
            return _with_mor(a.select(ct("insert").alias("change_type"), "*"))
        if a is None:
            return _with_mor(r.select(ct("delete").alias("change_type"), "*"))
        cols = [c for c in a.columns if c not in keys]
        pa = F.struct(*[F.col(f"a.{c}") for c in cols])
        pr = F.struct(*[F.col(f"r.{c}") for c in cols])
        j = (
            a.alias("a")
            .withColumn("_pa", F.lit(1))
            .join(
                r.alias("r").withColumn("_pr", F.lit(1)),
                keys,
                "full_outer",
            )
        )
        def _rows(tag, side, cond):
            return j.filter(cond).select(
                ct(tag).alias("change_type"),
                *keys,
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
            )

        both = F.col("_pa").isNotNull() & F.col("_pr").isNotNull()
        return _with_mor(
            _rows("insert", "a", F.col("_pr").isNull())
            .unionByName(_rows("delete", "r", F.col("_pa").isNull()))
            .unionByName(_rows("update_postimage", "a", both & (pa != pr)))
            .unionByName(_rows("update_preimage", "r", both & (pa != pr)))
        )

    def refs(self) -> list[dict]:
        """The ``refs`` metadata table (Iceberg: ``<tbl>.refs``): every
        named ref — main, tags, branches — with its kind and the
        snapshot/branch-version it points at. Metadata-only."""
        out = [{"name": "main", "kind": "branch", "version": self.current_version}]
        out += [
            {"name": t["name"], "kind": "tag", "version": t["version"]}
            for t in snaplog.tags(self._snaps)
        ]
        branches = {
            f[len("branch-") : f.rindex("-v")]
            for f in os.listdir(self._snaps)
            if f.startswith("branch-") and f.endswith(".json")
        }
        for b in sorted(branches):
            out.append(
                {"name": b, "kind": "branch", "version": self.branch_version(b)}
            )
        return out

    def rollback_to(self, version: int) -> int:
        """ROLLBACK (Iceberg: ``CALL system.rollback_to_snapshot``): a NEW
        commit whose content is snapshot ``version``'s manifest verbatim —
        history is append-only (the bad commits stay visible to time
        travel and audits; their files stay referenced until
        ``expire_snapshots``), but readers are back on the old state
        instantly. Metadata-only: zero data I/O, the incident-response
        primitive after a bad write lands."""
        m = self._manifest(version)
        return snaplog.commit(
            self._snaps,
            "rollback_to",
            lambda base, head: self._try_commit(
                base + 1,
                m["files"],
                f"rollback.v{version}",
                head=head,
                delete_files=m.get("delete_files", []),
                prev=m,
            ),
        )

    # -- maintenance ---------------------------------------------------------
    def compact(
        self, target_files: int = 1, sort_by: list[str] | None = None
    ) -> int:
        """T5/T8: rewrite small files into ``target_files`` larger ones
        (Iceberg: ``CALL system.rewrite_data_files``). ``sort_by`` clusters
        rows within the rewritten files (the z-order/sort strategy, P:306:
        better compression + min/max pruning on the sort keys). New
        snapshot; old files stay referenced by old snapshots until expiry."""
        base = self.current_version
        df = self.read(version=base)
        if sort_by:
            # range partitioning (not hash) on the sort keys: each rewritten
            # file owns a DISJOINT key range, so footer min/max stats can
            # actually skip files on those keys — sortWithinPartitions alone
            # clusters inside files (compression) but leaves every file
            # spanning the whole key space (zero cross-file pruning)
            df = df.repartitionByRange(target_files, *sort_by).sortWithinPartitions(
                *sort_by
            )
            return self._commit_rewrite(
                base, self._write_files(df, None), "compact"
            )
        return self._commit_rewrite(
            base, self._write_files(df, target_files), "compact"
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """T6 (Iceberg: ``CALL system.expire_snapshots``). Snapshots
        pinned by a TAG or serving as a live branch's base are RETAINED
        regardless of age — expiring them would break ``read_tag`` and
        orphan-GC the tagged data files (Iceberg's expiry honors refs
        the same way); drop the ref first to release the snapshot."""
        protected = {t["version"] for t in snaplog.tags(self._snaps)}
        snap_dir = self._snaps
        for f in os.listdir(snap_dir):
            if f.startswith("branch-") and f.endswith("-v1.json"):
                with open(os.path.join(snap_dir, f)) as fh:
                    protected.add(json.load(fh)["base_main_version"])
        vs = snaplog.versions(snap_dir)
        expired = []
        for v in vs[:-keep_last] if keep_last else vs:
            if v in protected:
                continue
            os.remove(os.path.join(snap_dir, f"v{v}.json"))
            expired.append(v)
        return expired

    def remove_orphan_files(self) -> list[str]:
        """T7 (Iceberg: ``CALL system.remove_orphan_files``): delete data
        files referenced by no live snapshot, no in-flight staged WAP
        manifest, and no BRANCH manifest (so GC is safe to run while a
        write-audit-publish batch is under audit or a branch is still
        unpublished)."""
        live: set[str] = set()
        live_manifests: set[str] = set()
        for m in self.history():
            live.update(m["files"])
            live.update(d["file"] for d in m.get("delete_files", []))
            live_manifests.update(m.get("manifests", []))
        snap_dir = os.path.join(self.path, "snapshots")
        for f in os.listdir(snap_dir):
            if f.endswith(".json") and (
                f.startswith("staged-") or f.startswith("branch-")
            ):
                with open(os.path.join(snap_dir, f)) as fh:
                    bm = json.load(fh)
                live.update(bm["files"])
                live.update(d["file"] for d in bm.get("delete_files", []))
        removed = []
        data_dir = os.path.join(self.path, "data")
        for f in os.listdir(data_dir):
            if f not in live:
                os.remove(os.path.join(data_dir, f))
                removed.append(f)
        # manifest-file GC: physical manifests referenced by no live main
        # snapshot (lost CAS attempts are cleaned inline; expiry leaves
        # these behind exactly like data files) — live_manifests was
        # collected in the single history() walk above
        mdir = os.path.join(snap_dir, "manifests")
        if os.path.isdir(mdir):
            for f in os.listdir(mdir):
                if f not in live_manifests:
                    os.remove(os.path.join(mdir, f))
                    removed.append(os.path.join("manifests", f))
        return removed


# --- driver-contract query: snapshot lifecycle roundtrip --------------------
def lifecycle_snapshot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a snapshot table from events (v1=cold append, v2=+hot append,
    v3=compaction), then time-travel every version and report row counts —
    ACID append + time travel + compaction in one deterministic check."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    tbl = make_table(spark, "snaptbl_")
    tbl.append(ev.filter(F.col("ts") < cut), n_files=8)
    tbl.append(ev.filter(F.col("ts") >= cut), n_files=8)
    tbl.compact(target_files=1)
    rows = []
    ops = {m["version"]: m["operation"] for m in tbl.history()}
    for v in (1, 2, 3):
        rows.append((v, ops[v], tbl.read(version=v).count(), len(tbl.files(v))))
    return local_frame(
        spark,
        rows, "version int, operation string, row_count long, n_files int"
    )


# --- MERGE INTO upsert roundtrip (copy-on-write) -----------------------------
_MERGE_CUT = "2024-01-20 00:00:00"


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert semantics end-to-end: v1 = cold events (< 7d cutoff); then one
    MERGE whose source doubles ``value`` for every event from 2024-01-20 on
    — rows before the cutoff are updates (matched), rows after it are
    inserts (not matched). Verifies the final state per event_type and that
    exactly one extra snapshot exists."""
    ev = load(spark, sf_dir, "events")
    cold_cut = F.to_timestamp(F.lit(CUTOFF_7D))
    src_cut = F.to_timestamp(F.lit(_MERGE_CUT))
    tbl = make_table(spark, "mergetbl_")
    tbl.append(ev.filter(F.col("ts") < cold_cut), n_files=8)
    source = ev.filter(F.col("ts") >= src_cut).withColumn(
        "value", F.col("value") * 2
    )
    tbl.merge(source, keys=["event_id"], n_files=8)
    assert [m["operation"] for m in tbl.history()] == ["append", "merge"]
    return (
        tbl.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        )
    )


def merge_upsert_mor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-ON-READ twin of :func:`merge_upsert_events`: the SAME
    upsert (source doubles ``value`` from 2024-01-20 on; pre-cutoff rows
    update, post-cutoff rows insert) executed as ONE ``merge.mor``
    commit — position-delete the matched rows + append the source —
    instead of a full-table copy-on-write rewrite. O(|source| +
    |matches|) I/O versus O(|table|); reads pay the (file, pos)
    anti-join until compaction. The oracle is the copy-on-write oracle
    verbatim: the two merge modes MUST be observationally identical."""
    ev = load(spark, sf_dir, "events")
    cold_cut = F.to_timestamp(F.lit(CUTOFF_7D))
    src_cut = F.to_timestamp(F.lit(_MERGE_CUT))
    tbl = make_table(spark, "mergemor_")
    tbl.append(ev.filter(F.col("ts") < cold_cut), n_files=8)
    n_cold_files = len(tbl.files())
    source = ev.filter(F.col("ts") >= src_cut).withColumn(
        "value", F.col("value") * 2
    )
    tbl.merge_mor(source, keys=["event_id"], n_files=4)
    assert [m["operation"] for m in tbl.history()] == ["append", "merge.mor"]
    m = tbl._manifest(2)
    # MOR economics, pinned: every cold data file survives un-rewritten
    assert set(tbl._manifest(1)["files"]) <= set(m["files"]), (
        "merge.mor must not rewrite existing data files"
    )
    assert len(m["files"]) > n_cold_files  # source appended as new files
    assert len(m["delete_files"]) == 1  # one position tombstone
    return (
        tbl.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        )
    )


# --- T3: schema evolution — old files readable after ADD COLUMN -------------
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMN parity (P:124-128): write cold events with
    the original schema, hot events with an added ``user_agent`` column,
    read both generations through one scan under the table schema the
    snapshot log records (Iceberg's field-id evolution by name here),
    aggregate with the evolved column NULL for pre-evolution rows."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    tbl = make_table(spark, "evolve_")
    tbl.append(ev.filter(F.col("ts") < cut), n_files=4)
    evolved = ev.filter(F.col("ts") >= cut).withColumn(
        "user_agent", F.concat(F.lit("agent_"), (F.col("user_id") % 3).cast("string"))
    )
    tbl.append(evolved, n_files=4)
    return (
        tbl.read()
        .groupBy(F.coalesce("user_agent", F.lit("<pre-evolution>")).alias("user_agent"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def schema_rename_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN parity — the other half of schema
    evolution next to :func:`schema_evolution_read`'s ADD COLUMN: cold
    files are written with a ``device`` column, the column is renamed to
    ``client_device`` as a METADATA-ONLY operation (pinned in-entry:
    the live data-file list and every file's byte size are identical
    before and after — zero rewrite, the entire point of Iceberg
    renames), hot files are then written under the NEW name, and one
    scan reads both generations with the old-name files mapped through
    the recorded alias — every row carries a non-null ``client_device``
    (pinned). The aggregate certifies the merged read end-to-end.

    Scale: the rename costs one metadata write regardless of table size
    — against a 100 TB table the alternative (rewrite every file to
    relabel a column) is exactly the non-starter this semantic exists
    to avoid; the scan-time COALESCE is a zero-shuffle projection."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    dev = F.concat(
        F.lit("dev_"), (F.col("user_id") % 4).cast("string")
    )
    tbl = make_table(spark, "rename_")
    tbl.append(
        ev.filter(F.col("ts") < cut).withColumn("device", dev), n_files=4
    )
    before = sorted((f["file"], f["bytes"]) for f in tbl.files())
    tbl.rename_column("device", "client_device")
    after = sorted((f["file"], f["bytes"]) for f in tbl.files())
    assert before == after, "rename must not touch a single data file"
    tbl.append(
        ev.filter(F.col("ts") >= cut).withColumn("client_device", dev),
        n_files=4,
    )
    out = tbl.read()
    assert "device" not in out.columns, "old name must not survive the scan"
    n_null = out.filter(F.col("client_device").isNull()).count()
    assert n_null == 0, f"{n_null} rows lost the renamed column's values"
    return out.groupBy("client_device").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _write_chunked(tbl, df: DataFrame, chunk_col: str = "_c") -> list:
    """Materialize ``df`` as exactly one data file per distinct value of
    ``chunk_col`` (the chunk-layout fixture every skipping report builds).

    One Spark job: hash-repartitioning on the chunk key routes ALL rows of
    a chunk to a single task, and ``partitionBy`` then emits exactly one
    file per chunk directory; the files enter the table through a single
    ``ingest_files`` commit under the schema written (no inference job).
    Replaces the per-chunk filter+append loop
    (N full source scans, N write jobs, N commits → 1/1/1). Backends
    without ``ingest_files`` (the real-Iceberg adapter) keep the loop."""
    chunks = sorted(r[0] for r in df.select(chunk_col).distinct().collect())
    if not hasattr(tbl, "ingest_files"):
        for c in chunks:
            tbl.append(
                df.filter(F.col(chunk_col) == c).drop(chunk_col), n_files=1
            )
        return chunks
    staging = tempfile.mkdtemp(prefix="chunked_")
    (
        df.repartition(len(chunks), chunk_col)
        .write.mode("overwrite")
        .partitionBy(chunk_col)
        .parquet(staging)
    )
    paths = []
    for c in chunks:
        d = os.path.join(staging, f"{chunk_col}={c}")
        fs = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(fs) == 1, (c, fs)  # one task owns each chunk value
        paths.append(os.path.join(d, fs[0]))
    tbl.ingest_files(paths, schema=df.drop(chunk_col).schema)
    shutil.rmtree(staging, ignore_errors=True)
    return chunks


# --- manifest-style file skipping (the Iceberg pruning narrative) ------------
_SKIP_LO = "2024-01-10 00:00:00"
_SKIP_HI = "2024-01-15 00:00:00"


def file_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scan-planning walk (aws-community-builders-
    presentation.md:247-258): write events as 4 time-range files, plan a
    ts-range scan from footer min/max stats alone, then read ONLY the
    selected files. Reports file decisions + the pruned-read row count —
    the oracle recomputes both from the same day-bucket bounds, so a
    pruning bug that skips a needed file shows up as a row-count mismatch.

    Chunking is a map-side day-range bucket (quarters of the data's fixed
    30-day window) — a pure projection expression, unlike the previous
    NTILE over an unpartitioned global Window, which forced a
    single-partition sort of the corpus (fine at sf0.1, a scale-killer at
    100x). Real compaction chunks the same way: by value range, not by
    global row position."""
    ev = load(spark, sf_dir, "events")
    # Day-bucket semantics across engines: Spark's DIV truncates toward
    # zero, and DuckDB's INTEGER `//` does too (floored division applies
    # only to DuckDB's float path) — verified for pre-epoch dates:
    # ts 2023-12-25 buckets to (-3, 0) for the *16/*4 exprs on BOTH
    # engines. Negative buckets are therefore consistent, not a desync;
    # the corpus additionally pins min(ts) >= 2024-01-01.
    chunk = F.expr(
        "(datediff(CAST(ts AS DATE), DATE '2024-01-01') * 4) DIV 30"
    )
    chunked = ev.withColumn("_c", chunk)
    tbl = make_table(spark, "skiptbl_")
    _write_chunked(tbl, chunked)

    import datetime as _dt

    # footer stats come back UTC-aware (Spark writes isAdjustedToUTC micros;
    # session TZ is pinned UTC so the literals align)
    lo = _dt.datetime.fromisoformat(_SKIP_LO).replace(tzinfo=_dt.timezone.utc)
    hi = _dt.datetime.fromisoformat(_SKIP_HI).replace(tzinfo=_dt.timezone.utc)
    plan = tbl.plan_scan({"ts": (lo, hi)})
    pruned_rows = (
        tbl.read_files(plan["files_read"])
        .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    return local_frame(
        spark,
        [(plan["files_total"], len(plan["files_read"]), plan["files_skipped"], pruned_rows)],
        "files_total int, files_read int, files_skipped int, rows_selected long",
    )


# --- clustering payoff: skipping before vs after sorted compaction (T8) -----
def clustering_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events time-clustered (v1), then user-range-clustered (v2);
    plan the same user_id-range scan against both layouts. Time-clustered
    files all span the full user space (0 skipped); range-clustered files
    own disjoint user ranges (most skipped) — the z-order/T8 payoff
    (P:306), quantified from footer stats alone. Row counts from both
    pruned reads must equal the full filter — the oracle's check.

    Both layouts chunk by map-side value-range buckets (day quarter /
    user-id quarter) — pure projection expressions with exact SQL twins,
    replacing the NTILE-over-global-Window chunking whose single-partition
    sort cannot survive 100x. (``compact(sort_by=...)``'s production path
    is ``repartitionByRange``, whose sampled boundaries aren't
    SQL-reproducible — same layout shape, exact chunk bounds here.)"""
    ev = load(spark, sf_dir, "events")
    lo_hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, umax = int(lo_hi[0]), int(lo_hi[1])
    span = umax - umin + 1
    layouts = {
        "time_ordered": F.expr(
            "(datediff(CAST(ts AS DATE), DATE '2024-01-01') * 4) DIV 30"
        ),
        "user_clustered": F.expr(f"((user_id - {umin}) * 4) DIV {span}"),
    }
    lo, hi = 2, 4  # user_id range predicate
    rows = []
    for label, chunk in layouts.items():
        tbl = make_table(spark, f"clus_{label}_")
        _write_chunked(tbl, ev.withColumn("_c", chunk))
        stats = tbl.file_stats("user_id")
        read = [
            s["file"]
            for s in stats
            if s["min"] is None or (s["max"] >= lo and s["min"] <= hi)
        ]
        n_rows = (
            tbl.read_files(read)
            .filter(F.col("user_id").between(lo, hi))
            .count()
        )
        rows.append((label, len(stats), len(read), len(stats) - len(read), n_rows))
    return local_frame(
        spark,
        rows,
        "layout string, files_total int, files_read int, files_skipped int,"
        " rows_selected long",
    )


# --- bloom point-lookup pruning (the beyond-min/max skipping dimension) ------
_BLM_FILES = 8
_BLM_SCRAMBLE = 2654435761  # odd multiplier: decorrelates chunk from doc_id


def bloom_point_lookup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping via the per-file Bloom index — the
    pruning dimension Iceberg adds with
    ``write.parquet.bloom-filter-enabled`` (P:247-258 covers only the
    min/max walk). Layout is ADVERSARIAL to footer stats on purpose:
    documents are chunked by a multiplicative scramble of ``doc_id``, so
    every file's [min,max] spans ~the whole id domain and range planning
    reads all files; the Bloom planner reads only the files whose bitset
    contains all k probe positions. Five probes (four present ids spread
    across the domain + one past-the-end absent id) report, per probe:
    files the min/max planner reads, files the Bloom planner reads, files
    truly containing the row, Bloom false positives, and the rows found
    reading ONLY Bloom-selected files — the oracle recomputes every
    number from the same chunk expression and hash family, so a false
    NEGATIVE (skipped file that held the row) surfaces as a rows_found
    mismatch.

    Scale: the index build is one map-side explode + groupBy(file)
    collect_set (shuffle bounded by files × m); planning touches sidecar
    metadata only, never data; each probe read opens O(1) files. At
    100 TB the win is exactly this shape: point lookups on a
    high-cardinality secondary key skip ~all of the corpus without any
    re-clustering of the data."""
    docs = load(spark, sf_dir, "documents")
    chunk = (F.col("doc_id") * F.lit(_BLM_SCRAMBLE)) % F.lit(_BLM_FILES)
    tbl = make_table(spark, "bloomtbl_", stats_col="doc_id")
    _write_chunked(tbl, docs.select("doc_id").withColumn("_c", chunk))
    if not hasattr(tbl, "build_bloom_index"):  # real-Iceberg backend:
        # blooms live in parquet footers via the table property; the
        # sidecar planner below is the parquet-native path only
        raise NotImplementedError("bloom sidecar requires SnapshotTable")
    tbl.build_bloom_index("doc_id")
    mx = int(docs.agg(F.max("doc_id")).collect()[0][0])
    probes = [0, mx // 3, (2 * mx) // 3, mx, mx + 7777]
    rows = []
    for p in probes:
        mm = tbl.plan_scan({"doc_id": (p, p)})
        bl = tbl.plan_scan_bloom("doc_id", p)
        n_rows, n_files_hit = 0, 0
        if bl["files_read"]:
            hit = (
                tbl.read_files(bl["files_read"])
                .where(F.col("doc_id") == p)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct(F.col("_metadata.file_path")).alias("nf"),
                )
                .collect()[0]
            )
            n_rows, n_files_hit = int(hit["n"]), int(hit["nf"])
        rows.append(
            (
                p,
                bl["files_total"],
                len(mm["files_read"]),
                len(bl["files_read"]),
                n_files_hit,
                len(bl["files_read"]) - n_files_hit,
                n_rows,
            )
        )
    return local_frame(
        spark,
        rows,
        "probe_id long, files_total int, minmax_files_read int,"
        " bloom_files_read int, files_with_row int, bloom_fp_files int,"
        " rows_found long",
    ).orderBy("probe_id")


# --- partition evolution: one scan across two spec generations ---------------
_PE_CUT = "2024-01-16 00:00:00"  # spec change: everything before is gen-1
_PE_LO = "2024-01-12 00:00:00"  # scan predicate straddles the cut
_PE_HI = "2024-01-20 00:00:00"


def spec_evolution_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition evolution on the SNAPSHOT TABLE, with per-file
    spec lineage recorded in the manifests (``partition_evolution_scan``
    covers the Hive-directory flavor; this entry covers the metadata
    layer: ``evolve_partition_spec`` + ``file_specs`` + one stats-based
    plan across generations): generation 1 lands under a user-bucket spec (files span
    the whole time axis), then the spec evolves METADATA-ONLY — zero
    files rewritten — and generation 2 lands day-bucketed. ONE ts-range
    scan straddling the cut is then planned across both generations, and
    the report shows the evolution payoff per spec: the old generation's
    files all survive planning (their layout cannot prune time), the new
    generation prunes to the day-buckets the predicate touches. Rows are
    counted from the PRUNED read only, so a planner that wrongly skips an
    old-spec file fails the oracle's row counts.

    This is the migration path every long-lived 100 TB table takes: you
    fix the partition spec going forward without a petabyte rewrite, old
    data ages out through compaction, and scan planning handles the mixed
    layout file-by-file (each file judged under its own recorded spec —
    here uniformly via per-file bounds, Iceberg's net effect)."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit(_PE_CUT).cast("timestamp")
    g1 = ev.filter(F.col("ts") < cut)
    lohi = g1.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, span = int(lohi[0]), int(lohi[1]) - int(lohi[0]) + 1
    tbl = make_table(spark, "pevol_", stats_col="ts")
    tbl.evolve_partition_spec("user_bucket4")
    _write_chunked(
        tbl,
        g1.withColumn(
            "_c", F.expr(f"((user_id - {umin}) * 4) DIV {span}")
        ),
    )
    tbl.evolve_partition_spec("day_bucket4")
    _write_chunked(
        tbl,
        ev.filter(F.col("ts") >= cut).withColumn(
            "_c",
            F.expr(
                "(datediff(CAST(ts AS DATE), DATE '2024-01-16') * 4) DIV 15"
            ),
        ),
    )

    import datetime as _dt

    lo = _dt.datetime.fromisoformat(_PE_LO).replace(tzinfo=_dt.timezone.utc)
    hi = _dt.datetime.fromisoformat(_PE_HI).replace(tzinfo=_dt.timezone.utc)
    plan = tbl.plan_scan({"ts": (lo, hi)})
    rows = []
    for gen, spec in ((1, "user_bucket4"), (2, "day_bucket4")):
        gen_files = tbl.files_for_spec(spec)
        sel = [f for f in plan["files_read"] if f in set(gen_files)]
        n = (
            tbl.read_files(sel)
            .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
            .count()
            if sel
            else 0
        )
        rows.append((gen, spec, len(gen_files), len(sel), len(gen_files) - len(sel), n))
    return local_frame(
        spark,
        rows,
        "generation int, spec string, files_total int, files_read int,"
        " files_skipped int, rows_selected long",
    ).orderBy("generation")


# --- type widening (Iceberg v3 promotion) across three generations -----------
def type_widening_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 TYPE PROMOTION end-to-end: generation 1 lands an
    ``amount`` column as int32; ``ALTER COLUMN amount TYPE bigint``
    (metadata-only — zero files rewritten) and generation 2 appends
    values beyond int32 range (2.2e9 + user_id > 2^31, SF-independent); a second promotion to double and
    generation 3 appends fractional values. One ``read()`` then returns
    every generation under the table type (double): the read funnel
    groups files by the type the snapshot log records for them — Spark's
    own schema merge correctly refuses int32-vs-int64 parquet conflicts,
    which is exactly why the table format owns this — casts each group
    up, and unions.
    The report aggregates per generation, so a missing or double-cast
    generation breaks counts and exact decimal sums against the oracle.

    All values are chosen exactly representable in double (ints < 2^53
    and .5 fractions), and the sum goes through ``det_sum``'s DECIMAL
    fold — no cross-engine float accumulation anywhere. Scale: widening
    is the schema change a long-lived table hits when a counter outgrows
    int32; the alternative this entry replaces is a full-table rewrite."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "widen_", stats_col="ts")
    if not hasattr(tbl, "widen_column_type"):
        raise NotImplementedError(
            "real-Iceberg backend handles promotion natively (ALTER COLUMN)"
        )
    tbl.append(
        ev.filter(F.col("event_id") % 3 == 0).select(
            "event_id",
            "ts",
            F.lit(1).cast("int").alias("gen"),
            F.col("user_id").cast("int").alias("amount"),
        ),
        n_files=2,
    )
    tbl.widen_column_type("amount", "bigint")
    tbl.append(
        ev.filter(F.col("event_id") % 3 == 1).select(
            "event_id",
            "ts",
            F.lit(2).cast("int").alias("gen"),
            (F.lit(2200000000) + F.col("user_id")).alias("amount"),
        ),
        n_files=2,
    )
    tbl.widen_column_type("amount", "double")
    tbl.append(
        ev.filter(F.col("event_id") % 3 == 2).select(
            "event_id",
            "ts",
            F.lit(3).cast("int").alias("gen"),
            (F.col("user_id") + F.lit(0.5)).alias("amount"),
        ),
        n_files=2,
    )
    return (
        tbl.read()
        .groupBy("gen")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            det_sum("amount").alias("amount_sum"),
            F.max("amount").alias("amount_max"),
        )
        .orderBy("gen")
    )


# --- column default (Iceberg v3 initial-default) across generations ----------
def column_default_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 INITIAL DEFAULT end-to-end: generation 1 lands without
    a ``tier`` column; ``ADD COLUMN tier STRING DEFAULT 'standard'``
    (metadata-only) and generation 2 appends rows that carry explicit
    tiers — INCLUDING genuine NULLs (every 4th user). The merged read
    must give every pre-add row the default while keeping the post-add
    NULLs NULL — the semantic a ``coalesce`` over the merged scan would
    destroy (it would overwrite the genuine NULLs too), and which the
    grouped read funnel enforces by filling the literal only into file
    groups physically lacking the column. The report counts rows per
    tier value (NULL bucket included), so either failure mode — default
    not applied, or default leaking into generation-2 NULLs — breaks
    counts.

    Scale: the default never materializes in storage (zero rewrite on
    ADD COLUMN over a 100 TB table); it rides the plan as a literal."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "coldef_", stats_col="ts")
    if not hasattr(tbl, "add_column_default"):
        raise NotImplementedError(
            "real-Iceberg backend handles initial-defaults natively"
        )
    tbl.append(
        ev.filter(F.col("event_id") % 2 == 0).select("event_id", "ts", "user_id"),
        n_files=2,
    )
    tbl.add_column_default("tier", "string", "standard")
    tier = F.when(F.col("user_id") % 4 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("tier_"), (F.col("user_id") % 3).cast("string"))
    )
    tbl.append(
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "user_id", tier.alias("tier")
        ),
        n_files=2,
    )
    return (
        tbl.read()
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("tier").asc_nulls_first())
    )


# --- row lineage (Iceberg v3 _row_id) across append + rewrite -----------------
def row_lineage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE end-to-end: two append commits (even then
    odd event_ids, each sorted and written as one file, so the
    metadata-derived ids are corpus-deterministic: even rows take
    0..n_even-1 by event_id rank, odd rows continue from n_even), then a
    ``rewrite_data_files`` that re-buckets everything into two files —
    the rewrite MATERIALIZES ``_row_id`` (the only write ids ever get)
    and identities must survive. (The single-partition append is the
    DETERMINISM FIXTURE only — production appends write in parallel;
    lineage derivation is indifferent to file count. The per-row
    preservation proof is the test's job; here the per-group
    (count, sum, xor) fingerprint keeps agg state constant-size.) The report aggregates per event_type
    the row count and the exact ``_row_id`` sum BEFORE and AFTER the
    rewrite plus an ids_preserved flag (set-equality of ids per type,
    checked in-engine); the oracle reconstructs the id assignment
    analytically from the same rank rule, so a shifted, duplicated, or
    dropped id anywhere breaks the sums.

    Scale: append-time lineage is METADATA-ONLY (one footer row count
    per new file at commit — a read the planner already does); deriving
    ids is a map-side expression over scan metadata; only rewrites pay
    the column's storage, which is the v3 trade exactly."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    tbl = make_table(spark, "lineage_", stats_col="event_id")
    if not hasattr(tbl, "enable_row_lineage"):
        raise NotImplementedError("real-Iceberg backend: v3 row lineage")
    tbl.enable_row_lineage()
    for parity in (0, 1):
        half = (
            ev.filter(F.col("event_id") % 2 == parity)
            .repartition(1)
            .sortWithinPartitions("event_id")
        )
        tbl.append(half, n_files=None)
    xor = F.expr("bit_xor(_row_id)")
    pre = (
        tbl.read_lineage()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").alias("row_id_sum"),
            xor.alias("_xor"),
        )
    )
    tbl.rewrite_preserving_lineage(target_files=2)
    post = (
        tbl.read_lineage()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("_n_post"),
            F.sum("_row_id").alias("row_id_sum_post"),
            xor.alias("_xor_post"),
        )
    )
    # bounded per-group fingerprint (count, sum, xor) instead of a
    # collect_list set compare — constant state per group at any scale
    return (
        pre.join(post, "event_type")
        .select(
            "event_type",
            "n_rows",
            "row_id_sum",
            "row_id_sum_post",
            (
                (F.col("n_rows") == F.col("_n_post"))
                & (F.col("row_id_sum") == F.col("row_id_sum_post"))
                & (F.col("_xor") == F.col("_xor_post"))
            ).alias("ids_preserved"),
        )
        .orderBy("event_type")
    )


# --- table NDV statistics (the Puffin / ANALYZE TABLE narrative) -------------
def table_ndv_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE end-to-end: events land in a snapshot table, ONE
    sketch pass writes the snapshot-pinned NDV statistics sidecar
    (Iceberg's Puffin theta-sketch blobs; here Spark's native mergeable
    HLL), and the report certifies each column's estimate against the
    exact distinct count with the corpus ±5%% accuracy contract (the
    `approx_distinct_users`/`hll_user_rollup` precedent: exact values
    full-value-oracled, sketch answers inside booleans). Stats are
    versioned to the snapshot — a second append invalidates nothing
    silently (reads of the old version still see the old stats file).

    Scale: the ANALYZE pass is one map-side-combinable sketch agg over
    the corpus; every CBO consult afterwards is a metadata read. The
    ±5%% bound at lgK=12 holds to billions of distinct values — the
    whole point of shipping sketches, not exact counts, at 100 TB."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "ndvstats_", stats_col="event_id")
    if not hasattr(tbl, "write_column_stats"):
        raise NotImplementedError("real-Iceberg backend: compute_table_stats")
    tbl.append(ev.select("event_id", "user_id", "event_type"), n_files=4)
    cols = ["event_id", "event_type", "user_id"]
    st = tbl.write_column_stats(cols)
    exact = ev.agg(
        *[F.countDistinct(c).alias(c) for c in cols],
        F.count(F.lit(1)).alias("_rows"),
    ).collect()[0]
    rows = []
    for c in cols:
        est, ex = st["ndv"][c], int(exact[c])
        rows.append(
            (
                c,
                int(exact["_rows"]),
                ex,
                abs(est - ex) * 20 <= ex,  # ±5% accuracy contract
                st["rows"] == int(exact["_rows"]),
            )
        )
    return local_frame(
        spark,
        rows,
        "col_name string, n_rows long, exact_ndv long, ndv_est_ok boolean,"
        " rows_match boolean",
    ).orderBy("col_name")


# --- full-sync MERGE (WHEN NOT MATCHED BY SOURCE THEN DELETE) -----------------
_MF_CUT_LO = "2024-01-08 00:00:00"  # source window start
_MF_CUT_HI = "2024-01-21 00:00:00"  # target window end (exclusive)


def merge_full_sync_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sync-job MERGE: the table holds the first 20 days of events;
    the incoming extract covers days 8..30. One ``merge_full`` makes the
    table exactly the extract and reports the accounting — days 8..20
    UPDATE (matched), 21..30 INSERT (not matched), 1..7 DELETE (not
    matched BY SOURCE — the clause plain upsert-MERGE lacks, and the
    reason sync jobs that use upserts leak deleted rows forever). The
    oracle reproduces every count from the window arithmetic and the
    post-merge read re-counts the table, so an off-by-one in any of the
    three branches is caught twice."""
    ev = load(spark, sf_dir, "events")
    lo = F.lit(_MF_CUT_LO).cast("timestamp")
    hi = F.lit(_MF_CUT_HI).cast("timestamp")
    tbl = make_table(spark, "mergefull_", stats_col="ts")
    if not hasattr(tbl, "merge_full"):
        raise NotImplementedError("real-Iceberg backend: MERGE BY SOURCE")
    tbl.append(ev.filter(F.col("ts") < hi), n_files=4)
    acct = tbl.merge_full(ev.filter(F.col("ts") >= lo), ["event_id"], n_files=4)
    n_after = tbl.read().count()
    n_days = tbl.read().select(
        F.countDistinct(F.to_date("ts")).alias("d")
    ).collect()[0]["d"]
    return local_frame(
        spark,
        [
            (
                acct["updated"],
                acct["inserted"],
                acct["deleted"],
                acct["rows_before"],
                n_after,
                int(n_days),
            )
        ],
        "updated long, inserted long, deleted long, rows_before long,"
        " rows_after long, days_after long",
    )


# --- the `.partitions` metadata table ----------------------------------------
def partitions_metadata_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg's ``<tbl>.partitions`` METADATA TABLE (the summary next to
    T10's ``.files``; reference aws-community-builders-presentation.md:180-188
    leans on exactly this stats layer): per-partition file count, row
    count, value bounds, and null accounting answered from MANIFEST
    COLUMN STATS ALONE — zero data pages read. This is how a 100 TB
    table answers "how big is each partition / where does a partition's
    value range sit" instantly: the rollup touches |files| manifest
    entries, not rows.

    Layout fixture: events land day-partitioned with TWO files per day
    (user-parity sub-chunks) via ``_write_chunked``'s one-job fanout
    write + single ingest commit; per-file stats then prove alignment
    (each file's ts bounds share one UTC date — asserted, so a straddling
    file fails loudly rather than mis-attributing rows). Every output
    column is recomputed by the oracle from the raw rows — n_files
    included, which the parity construction makes oracle-expressible as
    ``COUNT(DISTINCT user_id % 2)`` — so one mis-attributed file, lost
    row, or wrong footer bound breaks the compare.

    Scale: the report aggregates driver-side over the BOUNDED file
    inventory (file count, not row count — the manifest_lifecycle_report
    convention); at real scale the same rollup is a groupBy over the
    manifest-entries relation, still never touching data."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(
        spark, "partsmeta_", stats_col="ts", stats_cols=("ts", "value")
    )
    chunk = F.expr(
        "datediff(CAST(ts AS DATE), DATE '2024-01-01') * 2"
        " + pmod(user_id, 2)"
    )
    _write_chunked(tbl, ev.withColumn("_c", chunk))

    ts_st = {d["file"]: d for d in tbl.file_stats("ts")}
    val_st = {d["file"]: d for d in tbl.file_stats("value")}
    agg: dict = {}
    for f, st in ts_st.items():
        d_lo, d_hi = st["min"].date(), st["max"].date()
        if d_lo != d_hi:
            raise ValueError(
                f"file {f} straddles partition days {d_lo}..{d_hi}"
            )
        v = val_st[f]
        a = agg.setdefault(d_lo, [0, 0, None, None, 0])
        a[0] += 1
        a[1] += st["rows"]
        a[2] = v["min"] if a[2] is None else min(a[2], v["min"])
        a[3] = v["max"] if a[3] is None else max(a[3], v["max"])
        a[4] += v["null_count"]
    rows = [(d.isoformat(), *a) for d, a in sorted(agg.items())]
    return local_frame(
        spark,
        rows,
        "partition_day string, n_files int, row_count long,"
        " value_min double, value_max double, null_values long",
    )


# --- the `.snapshots` summary metadata table ----------------------------------
def snapshots_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg's ``<tbl>.snapshots`` METADATA TABLE with its SUMMARY map
    (added-data-files / deleted-data-files / added-records /
    deleted-records / total-records per commit) — the audit surface an
    operator reads before trusting a table ("what did that 3 AM job
    actually land?"). Completes the metadata-table set next to
    ``.files`` (T10), ``.partitions``, ``.history`` and the refs
    entries. Derived entirely from the snapshot layer: file-set DIFFS
    between consecutive manifests give the added/removed file lists,
    per-file footer row counts (one metadata read per file, no data
    pages) give the record deltas.

    Fixture: three residue-class appends (3, 2, 1 files) then one
    ``compact`` — so the report must show monotone total_rows through
    the appends, then a rewrite row where added_rows == removed_rows ==
    total_rows and the file count collapses to 1. The oracle recomputes
    every number from the raw rows' residue classes, so a mis-diffed
    file set or double-counted carried file breaks the compare.

    Scale: per-snapshot summaries are O(|changed files|) metadata work
    at commit time (real Iceberg stores them IN the snapshot; deriving
    them by diff is the read-side equivalent); the report is
    |versions| × |files| bounded driver work, never touching data."""
    import pyarrow.parquet as pq

    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "snapsum_", stats_col="ts")
    for residue, nf in ((0, 3), (1, 2), (2, 1)):
        tbl.append(ev.filter(F.col("event_id") % 3 == residue), n_files=nf)
    tbl.compact(target_files=1)

    def _rows(fname: str) -> int:
        return pq.ParquetFile(
            os.path.join(tbl.path, "data", fname)
        ).metadata.num_rows

    rows: list = []
    prev: list = []
    for m in tbl.history():
        cur = m["files"]
        added = [f for f in cur if f not in set(prev)]
        removed = [f for f in prev if f not in set(cur)]
        rows.append(
            (
                int(m["version"]),
                m["operation"],
                len(added),
                len(removed),
                len(cur),
                sum(_rows(f) for f in added),
                sum(_rows(f) for f in removed),
                sum(_rows(f) for f in cur),
            )
        )
        prev = cur
    return local_frame(
        spark,
        rows,
        "version int, operation string, added_files int,"
        " removed_files int, n_files int, added_rows long,"
        " removed_rows long, total_rows long",
    ).orderBy("version")


# --- snapshot expiry under refs (T6 as driver evidence) -----------------------
def snapshot_expiry_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``expire_snapshots`` end-to-end, REF-AWARE: four quarter-appends
    build v1..v4, a TAG pins v2 (the 'what did the Q2 model train on'
    audit ref), then expiry with keep_last=2 runs. Exactly v1 must
    expire: v3/v4 are the retention window, v2 survives ONLY because the
    tag pins it — the rule that makes tags safe audit anchors under
    routine GC (Iceberg's ``expire_snapshots`` honors refs the same
    way). The report pins snapshot counts before/after, the expired
    count, the tag read's row count (time travel to the pinned state
    must still work AFTER expiry), and the current row count.

    Scale: expiry is metadata-only bookkeeping plus unreferenced-file
    deletes; the 100 TB point is what it does NOT do — never touches
    live data files, never blocks writers (snapshot isolation)."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "expiry_", stats_col="ts")
    if not hasattr(tbl, "expire_snapshots"):
        raise NotImplementedError("real-Iceberg backend: expire_snapshots")
    for q in range(4):
        tbl.append(ev.filter(F.col("event_id") % 4 == q), n_files=2)
    n_before = len(tbl.history())
    tbl.create_tag("audit_q2", version=2)
    expired = tbl.expire_snapshots(keep_last=2)
    rows = [
        ("current_rows", tbl.read().count()),
        ("expired_snapshots", len(expired)),
        ("snapshots_after", len(tbl.history())),
        ("snapshots_before", n_before),
        ("tag_rows", tbl.read_tag("audit_q2").count()),
    ]
    return local_frame(spark, rows, "metric string, value long").orderBy(
        "metric"
    )


# --- true z-order clustering (bit-interleaved, 2-D skipping) -----------------
_Z_NBITS = 4  # 4 bits per dimension → 8-bit z-key
_Z_FILES = 8
_Z_TLO = "2024-01-08 00:00:00"
_Z_THI = "2024-01-15 00:00:00"  # exclusive


def _zkey_sql(ub: str, db: str, div: str) -> str:
    """Bit-interleave two `_Z_NBITS`-bit bucket ids into a z-curve key,
    in pure integer arithmetic (same text modulo the int-division token:
    Spark ``DIV``, duckdb ``//``)."""
    terms = []
    for i in range(_Z_NBITS):
        terms.append(f"((({ub}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({db}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_clustering_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 for real: files clustered on a bit-interleaved z-curve over
    (user bucket × day bucket) vs 1-D user clustering, footer-stat skipping
    measured for three predicate shapes. The z-order claim this quantifies:
    a 1-D layout skips perfectly on its own dimension and not at all on the
    other; ONE z-ordered layout skips usefully on both (P:306 — better
    pruning), because each file owns a bounded box of the 2-D key space.
    Pruning uses per-file min/max of the RAW columns (user_id, ts) exactly
    as Iceberg manifests would; every pruned read must still return the
    full predicate's row count — the oracle recomputes all of it from the
    same key-range chunk bounds. Chunking is a map-side range bucket of
    the layout key (user-id sixteenths paired into 8 files / z-key
    eighths) — no NTILE-over-global-Window single-partition sort."""
    import datetime as _dt

    ev = load(spark, sf_dir, "events")
    lo_hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, umax = int(lo_hi[0]), int(lo_hi[1])
    span = umax - umin + 1
    ulo, uhi = umin + span // 4, umin + span // 2 - 1  # user band: 2nd quartile

    ub = f"((user_id - {umin}) * 16) DIV {span}"
    db = "(datediff(CAST(ts AS DATE), DATE '2024-01-01') * 16) DIV 30"
    base = ev.select(
        "event_id", "user_id", "ts",
        F.expr(_zkey_sql(ub, db, "DIV")).alias("zkey"),
    )
    tlo = _dt.datetime.fromisoformat(_Z_TLO).replace(tzinfo=_dt.timezone.utc)
    thi = _dt.datetime.fromisoformat(_Z_THI).replace(tzinfo=_dt.timezone.utc)
    preds = {
        "user_band": (True, False),
        "time_band": (False, True),
        "user_and_time": (True, True),
    }
    layouts = {
        # user-id sixteenths (the ub bucket) paired into _Z_FILES files;
        # z-key value range split into _Z_FILES equal eighths — both pure
        # map-side projections of the layout key
        "user_clustered": F.expr(f"({ub}) DIV {16 // _Z_FILES}"),
        "zordered": F.expr(f"zkey DIV {256 // _Z_FILES}"),
    }

    rows = []
    for layout, chunk in layouts.items():
        tbl = make_table(spark, f"zord_{layout}_")
        _write_chunked(
            tbl,
            base.withColumn("_c", chunk).select("event_id", "user_id", "ts", "_c"),
        )
        ustats = {s["file"]: s for s in tbl.file_stats("user_id")}
        tstats = {s["file"]: s for s in tbl.file_stats("ts")}
        # r16 (guide §1.2): three sequential per-predicate count() jobs
        # → ONE union of tagged 1-row aggregates per layout (same pruned
        # reads, same filters, identical counts)
        reads: dict[str, list] = {}
        fused = None
        for pred, (use_u, use_t) in preds.items():
            read = []
            for f in ustats:
                ok = True
                if use_u:
                    s = ustats[f]
                    ok = ok and s["max"] >= ulo and s["min"] <= uhi
                if use_t:
                    s = tstats[f]
                    ok = ok and s["max"] >= tlo and s["min"] < thi
                if ok:
                    read.append(f)
            reads[pred] = read
            if not read:
                continue
            cond = F.lit(True)
            if use_u:
                cond = cond & F.col("user_id").between(ulo, uhi)
            if use_t:
                cond = cond & (F.col("ts") >= F.lit(tlo)) & (F.col("ts") < F.lit(thi))
            part = (
                tbl.read_files(read)
                .filter(cond)
                .agg(F.count(F.lit(1)).cast("long").alias("v"))
                .select(F.lit(pred).alias("p"), "v")
            )
            fused = part if fused is None else fused.unionByName(part)
        got = (
            {r["p"]: int(r["v"]) for r in fused.collect()}
            if fused is not None
            else {}
        )
        for pred in preds:
            rows.append(
                (
                    layout,
                    pred,
                    len(ustats),
                    len(reads[pred]),
                    len(ustats) - len(reads[pred]),
                    got.get(pred, 0),
                )
            )
    return local_frame(
        spark,
        rows,
        "layout string, predicate string, files_total int, files_read int,"
        " files_skipped int, rows_selected long",
    )


def _hilbert_lut(n: int = 1 << _Z_NBITS) -> list[int]:
    """xy2d Hilbert index for an n×n grid (n a power of two) — the
    standard iterative rotate/flip walk, precomputed once into a flat
    ``x·n + y``-indexed lookup table. 256 ints for the 16×16 grid: the
    same nibble-LUT device production Hilbert implementations use, and
    what keeps the key a pure in-engine expression (a literal array
    element_at) on BOTH engines instead of a 4-level mutable-state loop
    SQL cannot express."""
    lut = [0] * (n * n)
    for x0 in range(n):
        for y0 in range(n):
            x, y, d = x0, y0, 0
            s = n // 2
            while s > 0:
                rx = 1 if (x & s) > 0 else 0
                ry = 1 if (y & s) > 0 else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:  # rotate the quadrant so the walk stays
                    if rx == 1:  # contiguous (the flip half-turn)
                        x, y = s - 1 - x, s - 1 - y
                    x, y = y, x
                s //= 2
            lut[x0 * n + y0] = d
    return lut


def hilbert_clustering_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering vs Z-order — the layout comparison
    behind 'liquid'-style clustering replacing classic Z-ORDER BY: both
    map the (user bucket × day bucket) plane to one sort key, and files
    are EQUAL-ROW-COUNT runs along that key (how a writer actually cuts
    files — by size, not by key value; at key-ALIGNED power-of-two cuts
    both curves yield identical perfect rectangles and the comparison is
    vacuous, measured). At row-count boundaries the z-curve's
    bit-interleave takes long diagonal jumps mid-file, so a file of
    contiguous z-keys owns a WIDE bounding box; the Hilbert walk is
    unit-step everywhere, so the same row budget owns a tighter box.
    Two measurable claims, one report: (1) ``bbox_area`` — the summed
    per-file bucket-space bounding-box area, the layout-intrinsic
    locality metric (Hilbert < z-order on the testdata, pinned in
    tests); (2) footer-stat skipping under the same three predicate
    shapes as :func:`zorder_clustering_report`, where tighter boxes mean
    fewer false-positive file reads. Every pruned read still returns the
    full predicate row count (pruning is conservative), and the oracle
    recomputes chunk assignment, files_read and bbox_area from the
    identical integer arithmetic — the Hilbert key itself is a 256-entry
    literal LUT (:func:`_hilbert_lut`) inlined into both engines.

    Scale shape: key assignment is a map-side integer expression (a
    literal-array element_at — no shuffle, no UDF); the equal-row
    boundaries come from the ≤256-row per-key histogram (one map-side
    combinable agg) windowed into an EXCLUSIVE running count — a bounded
    single-partition window over grid-cell rows, never data rows — and
    broadcast-joined back; the chunked write is one hash-repartition by
    chunk; stats come from footers exactly as Iceberg manifests would
    carry them. At 100 TB this is a layout REWRITE job (one pass +
    a tiny histogram), and the report is the acceptance gate that
    decides whether re-clustering pays before any query runs."""
    import datetime as _dt

    ev = load(spark, sf_dir, "events")
    lo_hi = ev.agg(
        F.min("user_id"), F.max("user_id"), F.count(F.lit(1))
    ).collect()[0]
    umin, umax, total = int(lo_hi[0]), int(lo_hi[1]), int(lo_hi[2])
    span = umax - umin + 1
    ulo, uhi = umin + span // 4, umin + span // 2 - 1

    n = 1 << _Z_NBITS
    lut = ",".join(str(v) for v in _hilbert_lut(n))
    ub = f"((user_id - {umin}) * {n}) DIV {span}"
    db = f"(datediff(CAST(ts AS DATE), DATE '2024-01-01') * {n}) DIV 30"
    base = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(ub).alias("ubk"),
        F.expr(db).alias("dbk"),
        F.expr(_zkey_sql(ub, db, "DIV")).alias("zkey"),
        F.expr(
            f"element_at(array({lut}), "
            f"CAST(({ub}) * {n} + ({db}) + 1 AS INT))"
        ).alias("hkey"),
    )
    tlo = _dt.datetime.fromisoformat(_Z_TLO).replace(tzinfo=_dt.timezone.utc)
    thi = _dt.datetime.fromisoformat(_Z_THI).replace(tzinfo=_dt.timezone.utc)
    preds = {
        "user_band": (True, False),
        "time_band": (False, True),
        "user_and_time": (True, True),
    }
    rows = []
    for layout, key in (("zordered", "zkey"), ("hilbert", "hkey")):
        # equal-row file boundaries: per-key histogram (≤ n² rows) →
        # exclusive running count → file id = rows_before·FILES div total
        w_k = Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, -1
        )
        mapping = (
            base.groupBy(key)
            .agg(F.count(F.lit(1)).alias("kc"))
            .withColumn(
                "cb", F.coalesce(F.sum("kc").over(w_k), F.lit(0))
            )
            .withColumn(  # pure integer division: exact on both engines
                "_c", F.expr(f"(cb * {_Z_FILES}) DIV {total}")
            )
            .select(key, "_c")
        )
        chunked = base.join(F.broadcast(mapping), key)
        # layout-intrinsic locality: Σ per-file bucket-bbox area, exact
        # integer arithmetic over the chunk assignment (no file I/O).
        # r16 (guide §1.2): rides the fused count job below as a tagged
        # 1-row aggregate instead of its own sequential collect.
        bbox_agg = (
            chunked.groupBy("_c")
            .agg(
                (
                    (F.max("ubk") - F.min("ubk") + 1)
                    * (F.max("dbk") - F.min("dbk") + 1)
                ).alias("a")
            )
            .agg(F.sum("a").cast("long").alias("v"))
            .select(F.lit("_bbox").alias("p"), "v")
        )
        tbl = make_table(spark, f"hilb_{layout}_")
        _write_chunked(
            tbl,
            chunked.select("event_id", "user_id", "ts", "_c"),
        )
        ustats = {s["file"]: s for s in tbl.file_stats("user_id")}
        tstats = {s["file"]: s for s in tbl.file_stats("ts")}
        # r16 (guide §1.2): the three per-predicate counts were three
        # sequential count() jobs over the pruned reads; tag each
        # selection and collect ONE union of 1-row aggregates per layout
        # (same reads, same filters, identical counts)
        reads: dict[str, list] = {}
        fused = bbox_agg
        for pred, (use_u, use_t) in preds.items():
            read = []
            for f in ustats:
                ok = True
                if use_u:
                    s = ustats[f]
                    ok = ok and s["max"] >= ulo and s["min"] <= uhi
                if use_t:
                    s = tstats[f]
                    ok = ok and s["max"] >= tlo and s["min"] < thi
                if ok:
                    read.append(f)
            reads[pred] = read
            if not read:
                continue
            cond = F.lit(True)
            if use_u:
                cond = cond & F.col("user_id").between(ulo, uhi)
            if use_t:
                cond = cond & (F.col("ts") >= F.lit(tlo)) & (
                    F.col("ts") < F.lit(thi)
                )
            fused = fused.unionByName(
                tbl.read_files(read)
                .filter(cond)
                .agg(F.count(F.lit(1)).cast("long").alias("v"))
                .select(F.lit(pred).alias("p"), "v")
            )
        # r16-ADVICE guard: a NULL _bbox sum means the chunked frame was
        # empty — fail with the layout named instead of a TypeError
        # inside the dict comprehension masking the condition
        got = {}
        for r in fused.collect():
            if r["v"] is None:
                raise RuntimeError(
                    f"hilbert/zorder report: empty {layout} layout — "
                    f"aggregate {r['p']!r} returned NULL"
                )
            got[r["p"]] = int(r["v"])
        bbox = got["_bbox"]
        for pred in preds:
            rows.append(
                (
                    layout,
                    pred,
                    len(ustats),
                    len(reads[pred]),
                    len(ustats) - len(reads[pred]),
                    got.get(pred, 0),
                    int(bbox),
                )
            )
    return local_frame(
        spark,
        rows,
        "layout string, predicate string, files_total int, files_read int,"
        " files_skipped int, rows_selected long, bbox_area long",
    )


def snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGELOG scan between snapshots — the incremental-consumption
    read path (Iceberg changelog / Delta CDF): v1 = cold append, v2 = hot
    append, v3 = MERGE doubling ``value`` for every event from
    ``_MERGE_CUT`` on; then ``changelog(1, 3)`` must classify hot rows as
    inserts (at their FINAL, post-merge value) and the cold
    ``[_MERGE_CUT, CUTOFF_7D)`` slice as update pre/post image pairs —
    no deletes. The report aggregates per (change_type, event_type).

    Scale: the changelog reads only files ADDED/REMOVED between the
    manifests (the merge's rewrite scope), never the full table at either
    version; rewrite-noise rows cancel via whole-row equality in the
    keyed full-outer join (a pure compact commit therefore produces an
    empty changelog — test-pinned)."""
    ev = load(spark, sf_dir, "events")
    cold_cut = F.to_timestamp(F.lit(CUTOFF_7D))
    src_cut = F.to_timestamp(F.lit(_MERGE_CUT))
    tbl = make_table(spark, "chlog_")
    tbl.append(ev.filter(F.col("ts") < cold_cut), n_files=8)
    tbl.append(ev.filter(F.col("ts") >= cold_cut), n_files=8)
    tbl.merge(
        ev.filter(F.col("ts") >= src_cut).withColumn(
            "value", F.col("value") * 2
        ),
        keys=["event_id"],
        n_files=8,
    )
    ch = tbl.changelog(1, 3, keys=["event_id"])
    return ch.groupBy("change_type", "event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        det_sum("value", 2).alias("sum_value"),
    )


def wap_publish_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE-AUDIT-PUBLISH, the production Iceberg ingestion pattern
    (stage a snapshot under a WAP id, validate it with real queries while
    main stays untouched, then publish atomically — or abort and GC):
    v1 = cold events on main; the hot batch stages under ``audit-1``
    (visible via ``read_staged``, invisible to main); a deliberately
    corrupted twin stages under ``audit-2``, FAILS its audit (negative
    values), aborts, and orphan GC reclaims exactly its 3 files — the
    staged-but-live ``audit-1`` files survive GC; publish fast-forwards
    main to v2. The report pins row visibility at every phase plus the
    version and GC accounting.

    Scale: staging writes the batch's files once — audit reads and the
    eventual publish reuse them (publish is a manifest-only CAS commit,
    zero data I/O) — which is exactly why WAP is the 100 TB ingestion
    gate: validation cost never doubles the write path."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    cold, hot = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)
    tbl = make_table(spark, "wap_")
    tbl.append(cold, n_files=4)
    tbl.stage_append(hot, "audit-1", n_files=4)
    main_before = tbl.read().count()
    staged_rows = tbl.read_staged("audit-1").count()
    # the failing audit: a corrupted batch must never reach main
    tbl.stage_append(
        hot.withColumn("value", -F.col("value")), "audit-2", n_files=3
    )
    bad = tbl.read_staged("audit-2").filter(F.col("value") < 0).count()
    assert bad > 0, "audit-2 must trip its validation"
    tbl.abort_staged("audit-2")
    orphans = len(tbl.remove_orphan_files())
    version = tbl.publish_staged("audit-1")
    main_after = tbl.read().count()
    rows = [
        ("main_rows_before_publish", main_before),
        ("staged_visible_rows", staged_rows),
        ("aborted_orphan_files", orphans),
        ("published_version", version),
        ("main_rows_after_publish", main_after),
    ]
    return local_frame(spark, rows, "metric string, value long")


def mor_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE (Iceberg v2 equality deletes) end-to-end:
    v1 = full events table; v2 = MOR delete of every ``error`` event by
    key — ONE tombstone file committed, zero data files rewritten (the
    right-to-erasure path whose cost is O(|keys|), not O(|table|));
    reads at v2 anti-join the tombstones; time travel to v1 still shows
    the deleted rows (tombstones are per-snapshot metadata); v3 =
    ``compact()`` materializes the delete (reads apply tombstones, the
    rewrite persists the filtered rows) and CLEARS the delete-file list.
    The report pins per-version row counts and tombstone-file counts —
    v2 and v3 agree on rows while disagreeing on mechanism.

    Sequence scoping (Iceberg v2 semantics): deletes apply only to data
    files with seq ≤ the delete's seq, so a key re-inserted AFTER the
    delete survives — test-pinned. `changelog` is exact across MOR
    commits too: new tombstones emit full-pre-image delete rows, and
    the later compaction's changelog is empty (test-pinned)."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "mor_")
    tbl.append(ev, n_files=8)
    doomed = ev.filter(F.col("event_type") == "error").select("event_id")
    tbl.delete_where_mor(doomed, ["event_id"])
    tbl.compact(target_files=2)
    rows = []
    for v in (1, 2, 3):
        m = tbl._manifest(v)
        rows.append(
            (
                v,
                m["operation"],
                tbl.read(version=v).count(),
                len(m.get("delete_files", [])),
            )
        )
    return local_frame(
        spark,
        rows, "version int, operation string, row_count long, n_delete_files int"
    )


def snapshot_branch_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg BRANCHES & TAGS end-to-end — the ref surface behind the
    audit-branch ingestion pattern (``spark.wap.branch``) and
    reproducibility pins:

    - v1 = cold events on main; ``create_tag('prod-baseline')`` pins it
      forever (metadata-only);
    - ``create_branch('audit')`` + ``append_to_branch`` lands the hot
      batch ON THE BRANCH: main's readers still see exactly the cold
      rows (isolation asserted in-engine);
    - ``fast_forward('audit')`` publishes the branch to main in one
      metadata-only CAS commit (Iceberg: ``CALL system.fast_forward``),
      conflict-checked against main having moved;
    - the tag STILL reads the v1 state after publication.

    Output = per-(view, event_type) counts/sums for the three read
    surfaces — tag (cold only), branch head and post-publish main (both
    cold+hot) — which the oracle pins full-value. History is pinned to
    append + fast_forward. Scale: every ref operation here is O(manifest)
    metadata work; only the branch append writes data files, once."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    cold, hot = ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)
    tbl = make_table(spark, "brtag_")
    tbl.append(cold, n_files=4)  # v1
    tbl.create_tag("prod-baseline")
    tbl.create_branch("audit")
    tbl.append_to_branch("audit", hot, n_files=4)
    # isolation: the branch write must be invisible to main
    n_cold = cold.count()
    assert tbl.read().count() == n_cold, "branch write leaked into main"
    assert tbl.read_branch("audit").count() > n_cold
    v = tbl.fast_forward("audit")  # v2, metadata-only
    assert v == 2
    ops = [m["operation"] for m in tbl.history()]
    assert ops == ["append", "fast_forward.audit"], ops
    # the tag still pins the pre-publish state
    views = [
        ("tag_baseline", tbl.read_tag("prod-baseline")),
        ("branch_audit", tbl.read_branch("audit")),
        ("main_after_ff", tbl.read()),
    ]
    out = None
    for label, df in views:
        part = df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            det_sum("value", 2).alias("sum_value"),
        ).select(F.lit(label).alias("view"), "*")
        out = part if out is None else out.unionByName(part)
    return out


def mor_position_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOR POSITION deletes end-to-end — the same narrative as
    :func:`mor_delete_events` under Iceberg v2's OTHER delete encoding:
    v2 deletes every ``error`` event by (data file, row index) resolved
    from one live scan (``_metadata`` columns), no key columns on the
    read path and no data rewrite; v3 ``compact()`` materializes and
    clears. Position deletes are what MERGE/UPDATE write when the
    matching scan already knows exactly which rows die; equality deletes
    are the O(|keys|) path when it doesn't. Both encodings must land the
    identical table state — this report's row counts are hash-equal to
    the equality twin's, and the changelog across the delete commit
    emits the same full pre-images (test-pinned)."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "morpos_")
    tbl.append(ev, n_files=8)
    tbl.delete_where_positional(F.col("event_type") == "error")
    tbl.compact(target_files=2)
    rows = []
    for v in (1, 2, 3):
        m = tbl._manifest(v)
        rows.append(
            (
                v,
                m["operation"],
                tbl.read(version=v).count(),
                len(m.get("delete_files", [])),
            )
        )
    return local_frame(
        spark,
        rows, "version int, operation string, row_count long, n_delete_files int"
    )


def dv_delete_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg **v3 DELETION VECTORS** end-to-end — the encoding that
    succeeds v2's position-delete files: two successive row-level delete
    waves hit the SAME data files (v2 deletes every ``error`` event, v3
    every ``click``), and the table must hold at most ONE vector per
    data file throughout — the second wave MERGES each touched file's
    previous vector instead of stacking another tombstone (v2 semantics
    would leave two delete files per data file here; at one delete
    commit per 10 minutes that's the reference's metadata pathology all
    over again, on the delete side). ``dv_ok`` pins the invariant
    in-engine per version: every delete entry is a vector, one per
    distinct target, count == |touched files| — NOT wave1 + wave2
    stacked. The changelog across the second wave emits pre-images for
    the net-new positions only (carried-over old positions are already
    dead in the from-version's live view — asserted). ``compact()``
    materializes and clears the vectors. Row counts land the identical
    table state the equality/positional twins land."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "dvtbl_")
    tbl.append(ev, n_files=8)                                   # v1
    tbl.delete_where_dv(F.col("event_type") == "error")         # v2
    n_vec_after_1 = len(tbl.delete_vectors())
    tbl.delete_where_dv(F.col("event_type") == "click")         # v3
    # changelog across wave 2: net-new pre-images only
    n_click = ev.filter(F.col("event_type") == "click").count()
    chg = tbl.changelog(2, 3, keys=["event_id"])
    assert chg.filter(F.col("change_type") == "delete").count() == n_click
    tbl.compact(target_files=2)                                 # v4
    rows = []
    for v in (1, 2, 3, 4):
        m = tbl._manifest(v)
        dels = m.get("delete_files", [])
        dv_targets = {
            d["target"] for d in dels if d.get("kind") == "dv"
        }
        dv_ok = all(d.get("kind") == "dv" for d in dels) and len(
            dels
        ) == len(dv_targets)
        if v == 3:
            # the v3 invariant bite: wave 2 touched files wave 1 already
            # vectored, yet the vector count never exceeds |files|
            dv_ok = dv_ok and len(dels) <= len(m["files"]) and len(
                dels
            ) >= n_vec_after_1
        rows.append(
            (v, m["operation"], tbl.read(version=v).count(), bool(dv_ok))
        )
    return local_frame(
        spark,
        rows, "version int, operation string, row_count long, dv_ok boolean"
    )


def snapshot_rollback_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLBACK end-to-end: v1 = cold events; v2 = a bad batch lands
    (hot rows with corrupted negative values); v3 = ``rollback_to(1)`` —
    a metadata-only commit that restores v1's content while keeping the
    bad commit fully auditable via time travel. The report pins
    per-version row counts + the corrupted-row count visible at each
    version: v3 must read exactly like v1 (zero corrupted rows) while v2
    remains queryable for the post-mortem."""
    ev = load(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit(CUTOFF_7D))
    tbl = make_table(spark, "rollback_")
    tbl.append(ev.filter(F.col("ts") < cut), n_files=4)  # v1
    bad = ev.filter(F.col("ts") >= cut).withColumn("value", -F.col("value"))
    tbl.append(bad, n_files=2)                           # v2: bad batch
    v = tbl.rollback_to(1)                               # v3: metadata-only
    assert v == 3
    ops = [m["operation"] for m in tbl.history()]
    assert ops == ["append", "append", "rollback.v1"], ops
    rows = []
    for ver in (1, 2, 3):
        df = tbl.read(version=ver)
        rows.append(
            (
                ver,
                df.count(),
                df.filter(F.col("value") < 0).count(),
            )
        )
    return local_frame(spark, rows, "version int, row_count long, corrupted_rows long")


def manifest_lifecycle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's METADATA pathology, cured by manifest rewrite —
    not data compaction: 10-minute Firehose commits accrue ≈525,600
    manifests ≈ 78 GB/yr (aws-community-builders-presentation.md:233-243)
    and planning pays one GET per manifest (P:247-258 — 43,203 GETs per
    query plan). Builds the micro-batch scenario (12 appends of 2 files
    each — GEN:83-110's small-file cadence), then ``rewrite_manifests``:
    a METADATA-ONLY commit coalescing 12 manifest files into 1 while the
    24 data files, sequence numbers, and tombstones carry byte-identical
    (asserted in-engine: the file list is unchanged). Report: per phase,
    commit/data-file/manifest counts, the planning-GET count, and the
    full row count + value sum proving reads are untouched. Planning
    I/O drops 13 → 2 GETs — the 6.5× at 12 commits that is the 525,600×
    story at a year of micro-batches."""
    ev = load(spark, sf_dir, "events")
    tbl = make_table(spark, "manifesttbl_")
    for k in range(12):
        tbl.append(ev.filter(F.col("event_id") % 12 == k), n_files=2)
    before = {
        "commits": tbl.current_version,
        "files": sorted(tbl._manifest(tbl.current_version)["files"]),
        "manifests": len(tbl.manifest_list()),
        "gets": tbl.planning_gets(),
    }
    tbl.rewrite_manifests(target_manifests=1)
    after_files = sorted(tbl._manifest(tbl.current_version)["files"])
    assert after_files == before["files"], (
        "rewrite_manifests must be metadata-only: data files unchanged"
    )
    assert [m["operation"] for m in tbl.history()][-1] == "rewrite_manifests"
    agg = (
        tbl.read()
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_sum("value", 2).alias("s"),
        )
        .collect()[0]
    )
    rows = [
        (
            "before",
            before["commits"],
            len(before["files"]),
            before["manifests"],
            before["gets"],
            int(agg["n"]),
            float(agg["s"]),
        ),
        (
            "after",
            tbl.current_version,
            len(after_files),
            len(tbl.manifest_list()),
            tbl.planning_gets(),
            int(agg["n"]),
            float(agg["s"]),
        ),
    ]
    return local_frame(
        spark,
        rows,
        "phase string, n_commits int, n_data_files int, n_manifests int, "
        "planning_gets int, row_count long, sum_value double",
    )


_MPRUNE_LO = "2024-01-07T00:00:00+00:00"
_MPRUNE_HI = "2024-01-09T23:59:59.999999+00:00"


def manifest_pruning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN manifest scan planning — the layer that actually
    cures the reference's 43,203-planning-GET pathology (aws-community-
    builders-presentation.md:247-258): manifest files carry per-entry
    min/max/null-count for EVERY stats column (P:180-188's per-column
    stats) and the manifest LIST carries per-column partition summaries,
    so planning reads the snapshot + surviving manifests ONLY — zero
    data-file footer opens — and prunes at THREE exact levels: (0)
    manifest-LIST summaries skip whole manifests with NO manifest GET,
    (1) a surviving manifest's per-column aggregate range, (2)
    per-entry stats under a conjunctive {col: range} predicate.
    Scenario (micro-batch ingest clustered on BOTH dimensions): 5
    day-range × 2 user-half appends × 2 files over
    ``stats_cols=("ts", "user_id")``; then three plans: (a) ts-window
    only — 8/10 manifests skipped from the LIST alone, 4 files read;
    (b) ts-window AND lower-user-half — the SECOND stats column prunes
    the upper-half manifest too, 9/10 skipped, 2 files, 2 GETs (vs 11
    without summaries, vs the footer path's constant 21); then the NULL
    dimension (r12 verdict task 8) over ``promo_value`` — NULL for all
    events after day 15, so appends 1-2 are null-free, append 3 mixed,
    appends 4-5 all-NULL: (d) ``IS NOT NULL`` skips the two all-NULL
    day-ranges from the manifest-LIST summaries alone (Iceberg's
    contains-only-null — needs the r13 4-element stats carrying row
    counts) and (e) ``IS NULL`` skips the two null-free ranges
    (contains-null=false), each 4/10 manifests with zero manifest GETs;
    (c) the conjunctive plan after ``rewrite_manifests(1)`` — the LIST
    shrinks 10 → 1 (the 78 GB/yr metadata-size axis) while per-entry
    stats still hold the read at the same 2 files. Every phase's file
    set is pinned equal to the footer-walking :meth:`plan_scan` under
    the same predicates, and window_rows is the real COUNT
    cross-check on the pruned read. The user split point is exact
    integer arithmetic ((min+max+1) div 2) so both engines compute the
    identical bound."""
    ev = load(spark, sf_dir, "events").withColumn(
        "promo_value",
        F.when(F.dayofmonth("ts") <= 15, F.col("value")),
    )
    tbl = make_table(
        spark, "manifestprune_", stats_cols=("ts", "user_id", "promo_value")
    )
    # bounded artifact: ONE row (the user-id extremes) drives the split
    r = ev.agg(
        F.min("user_id").alias("lo"), F.max("user_id").alias("hi")
    ).collect()[0]
    umin, split = int(r["lo"]), (int(r["lo"]) + int(r["hi"]) + 1) // 2
    d = F.dayofmonth("ts")
    for k in range(5):
        rng = ev.filter((d >= 6 * k + 1) & (d <= 6 * k + 6))
        tbl.append(rng.filter(F.col("user_id") < split), n_files=2)
        tbl.append(rng.filter(F.col("user_id") >= split), n_files=2)
    lo, hi = _MPRUNE_LO, _MPRUNE_HI
    ts_pred = {"ts": (lo, hi)}
    both_pred = {"ts": (lo, hi), "user_id": (umin, split - 1)}
    window = (
        F.col("ts") >= F.to_timestamp(F.lit("2024-01-07 00:00:00"))
    ) & (F.col("ts") < F.to_timestamp(F.lit("2024-01-10 00:00:00")))

    def _phase(name, preds, row_filter):
        plan = tbl.plan_scan_manifests(predicates=preds)
        rows = (
            tbl.read_files(plan["files_read"]).filter(row_filter).count()
        )
        return (
            name,
            plan["files_total"],
            len(plan["files_read"]),
            plan["manifests_total"],
            plan["manifests_skipped"],
            plan["skipped_by_summary"],
            plan["planning_gets"],
            plan["gets_without_summaries"],
            plan["footer_path_gets"],
            int(rows),
        ), set(plan["files_read"])

    ts_only, files_ts = _phase("ts_only", ts_pred, window)
    both, files_both = _phase(
        "ts_and_user", both_pred, window & (F.col("user_id") < split)
    )
    promo_nn, files_nn = _phase(
        "promo_not_null",
        {"promo_value": "is_not_null"},
        F.col("promo_value").isNotNull(),
    )
    promo_nl, files_nl = _phase(
        "promo_null",
        {"promo_value": "is_null"},
        F.col("promo_value").isNull(),
    )
    tbl.rewrite_manifests(target_manifests=1)
    after, files_after = _phase(
        "after_rewrite", both_pred, window & (F.col("user_id") < split)
    )
    assert files_both == files_after, (
        "manifest rewrite must not change the planned file set"
    )
    # every manifest-stats plan must equal the footer-walking planner's
    # (zero-footer path == footer path, exactly); footer bounds are
    # instants, manifest bounds their ISO strings
    import datetime as _dt

    ts_at = tuple(_dt.datetime.fromisoformat(b) for b in (lo, hi))

    def _foot(preds):
        return set(tbl.plan_scan(preds)["files_read"])

    assert files_ts == _foot({"ts": ts_at}), (
        "manifest-stats planning must equal footer-stats planning (ts)"
    )
    assert files_both == _foot({"ts": ts_at, "user_id": (umin, split - 1)}), (
        "conjunctive manifest planning must equal footer planning"
    )
    assert files_nn == _foot({"promo_value": "is_not_null"}), (
        "IS NOT NULL manifest planning must equal footer null planning"
    )
    assert files_nl == _foot({"promo_value": "is_null"}), (
        "IS NULL manifest planning must equal footer null planning"
    )
    return local_frame(
        spark,
        [ts_only, both, promo_nn, promo_nl, after],
        "phase string, files_total int, files_read int, manifests_total int,"
        " manifests_skipped int, skipped_by_summary int, planning_gets int,"
        " gets_without_summaries int, footer_path_gets int, window_rows long",
    )


QUERIES = {
    "manifest_lifecycle_report": manifest_lifecycle_report,
    "manifest_pruning_report": manifest_pruning_report,
    "lifecycle_snapshot_counts": lifecycle_snapshot_counts,
    "snapshot_branch_tag": snapshot_branch_tag,
    "mor_position_delete_events": mor_position_delete_events,
    "dv_delete_events": dv_delete_events,
    "merge_upsert_mor_events": merge_upsert_mor_events,
    "snapshot_rollback_events": snapshot_rollback_events,
    "merge_upsert_events": merge_upsert_events,
    "snapshot_changelog": snapshot_changelog,
    "wap_publish_audit": wap_publish_audit,
    "mor_delete_events": mor_delete_events,
    "zorder_clustering_report": zorder_clustering_report,
    "hilbert_clustering_report": hilbert_clustering_report,
    "schema_evolution_read": schema_evolution_read,
    "schema_rename_read": schema_rename_read,
    "file_skipping_report": file_skipping_report,
    "clustering_skipping_report": clustering_skipping_report,
    "bloom_point_lookup_report": bloom_point_lookup_report,
    "spec_evolution_skipping_report": spec_evolution_skipping_report,
    "type_widening_read": type_widening_read,
    "column_default_read": column_default_read,
    "row_lineage_report": row_lineage_report,
    "table_ndv_stats_report": table_ndv_stats_report,
    "merge_full_sync_events": merge_full_sync_events,
    "snapshot_expiry_report": snapshot_expiry_report,
    "partitions_metadata_report": partitions_metadata_report,
    "snapshots_summary_report": snapshots_summary_report,
}


def _bloom_oracle_sql() -> str:
    """The Bloom report's SQL twin: recompute chunk assignment, per-chunk
    distinct bit positions, probe positions, and the all-k-positions
    membership test — the exact planner logic, in set algebra."""
    fpos = "\n            UNION\n".join(
        f"            SELECT c, ((doc_id * {a} + {b}) % {BLOOM_P})"
        f" % {BLOOM_M} AS bp FROM chunked"
        for a, b in zip(BLOOM_A, BLOOM_B)
    )
    ppos = "\n            UNION\n".join(
        f"            SELECT p, ((p * {a} + {b}) % {BLOOM_P})"
        f" % {BLOOM_M} AS bp FROM probes"
        for a, b in zip(BLOOM_A, BLOOM_B)
    )
    return f"""
        WITH chunked AS (
            SELECT doc_id, (doc_id * {_BLM_SCRAMBLE}) % {_BLM_FILES} AS c
            FROM documents
        ),
        mxx AS (SELECT MAX(doc_id) AS m FROM documents),
        probes AS (
            SELECT CAST(0 AS BIGINT) AS p FROM mxx
            UNION ALL SELECT m // 3 FROM mxx
            UNION ALL SELECT (2 * m) // 3 FROM mxx
            UNION ALL SELECT m FROM mxx
            UNION ALL SELECT m + 7777 FROM mxx
        ),
        fpos AS (
{fpos}
        ),
        ppos AS (
{ppos}
        ),
        pneed AS (SELECT p, COUNT(*) AS need FROM ppos GROUP BY p),
        cand AS (
            SELECT pp.p, fp.c, COUNT(DISTINCT pp.bp) AS hit
            FROM ppos pp JOIN fpos fp ON fp.bp = pp.bp
            GROUP BY pp.p, fp.c
        ),
        bloomsel AS (
            SELECT cand.p, cand.c
            FROM cand JOIN pneed ON pneed.p = cand.p
            WHERE cand.hit = pneed.need
        ),
        bounds AS (
            SELECT c, MIN(doc_id) AS mn, MAX(doc_id) AS mx
            FROM chunked GROUP BY c
        )
        SELECT pr.p AS probe_id,
               (SELECT CAST(COUNT(*) AS INT) FROM bounds) AS files_total,
               CAST((SELECT COUNT(*) FROM bounds b
                     WHERE b.mx >= pr.p AND b.mn <= pr.p) AS INT)
                   AS minmax_files_read,
               CAST((SELECT COUNT(*) FROM bloomsel bs
                     WHERE bs.p = pr.p) AS INT) AS bloom_files_read,
               CAST((SELECT COUNT(DISTINCT ch.c) FROM chunked ch
                     WHERE ch.doc_id = pr.p) AS INT) AS files_with_row,
               CAST((SELECT COUNT(*) FROM bloomsel bs WHERE bs.p = pr.p)
                    - (SELECT COUNT(DISTINCT ch.c) FROM chunked ch
                       WHERE ch.doc_id = pr.p) AS INT) AS bloom_fp_files,
               (SELECT COUNT(*) FROM chunked ch WHERE ch.doc_id = pr.p)
                   AS rows_found
        FROM probes pr
        ORDER BY probe_id
    """

_TS7 = "TIMESTAMP '2024-01-24 00:00:00'"

def _zorder_oracle_sql() -> str:
    zkey = _zkey_sql(
        "((user_id - umin) * 16) // span",
        "(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 16) // 30",
        "//",
    )
    tpred = f"ts >= TIMESTAMP '{_Z_TLO}' AND ts < TIMESTAMP '{_Z_THI}'"
    tfile = f"tmx >= TIMESTAMP '{_Z_TLO}' AND tmn < TIMESTAMP '{_Z_THI}'"
    return f"""
        WITH bounds AS (
            SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
                   MAX(user_id) - MIN(user_id) + 1 AS span
            FROM events
        ),
        upred AS (
            SELECT umin + span // 4 AS ulo, umin + span // 2 - 1 AS uhi
            FROM bounds
        ),
        zsrc AS (
            SELECT e.event_id, e.user_id, e.ts, {zkey} AS zkey
            FROM events e CROSS JOIN bounds
        ),
        uchunk AS (
            SELECT z.*, (((z.user_id - b.umin) * 16) // b.span)
                            // {16 // _Z_FILES} AS c
            FROM zsrc z CROSS JOIN bounds b
        ),
        zchunk AS (
            SELECT *, zkey // {256 // _Z_FILES} AS c
            FROM zsrc
        ),
        ustat AS (SELECT c, MIN(user_id) umn, MAX(user_id) umx,
                         MIN(ts) tmn, MAX(ts) tmx FROM uchunk GROUP BY c),
        zstat AS (SELECT c, MIN(user_id) umn, MAX(user_id) umx,
                         MIN(ts) tmn, MAX(ts) tmx FROM zchunk GROUP BY c),
        counts AS (
            SELECT 'user_band' AS predicate,
                   (SELECT COUNT(*) FROM events, upred
                    WHERE user_id BETWEEN ulo AND uhi) AS rows_selected
            UNION ALL
            SELECT 'time_band',
                   (SELECT COUNT(*) FROM events WHERE {tpred})
            UNION ALL
            SELECT 'user_and_time',
                   (SELECT COUNT(*) FROM events, upred
                    WHERE user_id BETWEEN ulo AND uhi AND {tpred})
        ),
        reads AS (
            SELECT 'user_clustered' AS layout, 'user_band' AS predicate,
                   (SELECT COUNT(*) FROM ustat, upred
                    WHERE umx >= ulo AND umn <= uhi) AS files_read
            UNION ALL
            SELECT 'user_clustered', 'time_band',
                   (SELECT COUNT(*) FROM ustat WHERE {tfile})
            UNION ALL
            SELECT 'user_clustered', 'user_and_time',
                   (SELECT COUNT(*) FROM ustat, upred
                    WHERE umx >= ulo AND umn <= uhi AND {tfile})
            UNION ALL
            SELECT 'zordered', 'user_band',
                   (SELECT COUNT(*) FROM zstat, upred
                    WHERE umx >= ulo AND umn <= uhi)
            UNION ALL
            SELECT 'zordered', 'time_band',
                   (SELECT COUNT(*) FROM zstat WHERE {tfile})
            UNION ALL
            SELECT 'zordered', 'user_and_time',
                   (SELECT COUNT(*) FROM zstat, upred
                    WHERE umx >= ulo AND umn <= uhi AND {tfile})
        )
        SELECT r.layout, r.predicate,
               CAST(CASE WHEN r.layout = 'user_clustered'
                         THEN (SELECT COUNT(*) FROM ustat)
                         ELSE (SELECT COUNT(*) FROM zstat) END AS INT)
                   AS files_total,
               CAST(r.files_read AS INT) AS files_read,
               CAST(CASE WHEN r.layout = 'user_clustered'
                         THEN (SELECT COUNT(*) FROM ustat)
                         ELSE (SELECT COUNT(*) FROM zstat) END AS INT)
                   - CAST(r.files_read AS INT) AS files_skipped,
               c.rows_selected
        FROM reads r JOIN counts c ON r.predicate = c.predicate
    """


def _hilbert_oracle_sql() -> str:
    n = 1 << _Z_NBITS
    ub = f"((user_id - umin) * {n}) // span"
    db = f"(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) * {n}) // 30"
    zkey = _zkey_sql(ub, db, "//")
    lut = ",".join(str(v) for v in _hilbert_lut(n))
    hkey = f"([{lut}])[CAST(({ub}) * {n} + ({db}) + 1 AS INT)]"
    tpred = f"ts >= TIMESTAMP '{_Z_TLO}' AND ts < TIMESTAMP '{_Z_THI}'"
    tfile = f"tmx >= TIMESTAMP '{_Z_TLO}' AND tmn < TIMESTAMP '{_Z_THI}'"
    return f"""
        WITH bounds AS (
            SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
                   MAX(user_id) - MIN(user_id) + 1 AS span
            FROM events
        ),
        upred AS (
            SELECT umin + span // 4 AS ulo, umin + span // 2 - 1 AS uhi
            FROM bounds
        ),
        keyed AS (
            SELECT e.event_id, e.user_id, e.ts,
                   {ub} AS ubk, {db} AS dbk,
                   {zkey} AS zkey, {hkey} AS hkey
            FROM events e CROSS JOIN bounds
        ),
        tot AS (SELECT COUNT(*) AS total FROM keyed),
        zmap AS (
            SELECT k, (COALESCE(cb, 0) * {_Z_FILES}) // total AS f
            FROM (
                SELECT zkey AS k,
                       SUM(COUNT(*)) OVER (ORDER BY zkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS cb
                FROM keyed GROUP BY zkey
            ) CROSS JOIN tot
        ),
        hmap AS (
            SELECT k, (COALESCE(cb, 0) * {_Z_FILES}) // total AS f
            FROM (
                SELECT hkey AS k,
                       SUM(COUNT(*)) OVER (ORDER BY hkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS cb
                FROM keyed GROUP BY hkey
            ) CROSS JOIN tot
        ),
        src AS (
            SELECT keyed.*, z.f AS zc, h.f AS hc
            FROM keyed
            JOIN zmap z ON keyed.zkey = z.k
            JOIN hmap h ON keyed.hkey = h.k
        ),
        zstat AS (SELECT zc AS c, MIN(user_id) umn, MAX(user_id) umx,
                         MIN(ts) tmn, MAX(ts) tmx FROM src GROUP BY zc),
        hstat AS (SELECT hc AS c, MIN(user_id) umn, MAX(user_id) umx,
                         MIN(ts) tmn, MAX(ts) tmx FROM src GROUP BY hc),
        zbox AS (
            SELECT CAST(SUM(a) AS BIGINT) AS bbox_area FROM (
                SELECT (MAX(ubk) - MIN(ubk) + 1)
                       * (MAX(dbk) - MIN(dbk) + 1) AS a
                FROM src GROUP BY zc)
        ),
        hbox AS (
            SELECT CAST(SUM(a) AS BIGINT) AS bbox_area FROM (
                SELECT (MAX(ubk) - MIN(ubk) + 1)
                       * (MAX(dbk) - MIN(dbk) + 1) AS a
                FROM src GROUP BY hc)
        ),
        counts AS (
            SELECT 'user_band' AS predicate,
                   (SELECT COUNT(*) FROM events, upred
                    WHERE user_id BETWEEN ulo AND uhi) AS rows_selected
            UNION ALL
            SELECT 'time_band',
                   (SELECT COUNT(*) FROM events WHERE {tpred})
            UNION ALL
            SELECT 'user_and_time',
                   (SELECT COUNT(*) FROM events, upred
                    WHERE user_id BETWEEN ulo AND uhi AND {tpred})
        ),
        reads AS (
            SELECT 'zordered' AS layout, 'user_band' AS predicate,
                   (SELECT COUNT(*) FROM zstat, upred
                    WHERE umx >= ulo AND umn <= uhi) AS files_read
            UNION ALL
            SELECT 'zordered', 'time_band',
                   (SELECT COUNT(*) FROM zstat WHERE {tfile})
            UNION ALL
            SELECT 'zordered', 'user_and_time',
                   (SELECT COUNT(*) FROM zstat, upred
                    WHERE umx >= ulo AND umn <= uhi AND {tfile})
            UNION ALL
            SELECT 'hilbert', 'user_band',
                   (SELECT COUNT(*) FROM hstat, upred
                    WHERE umx >= ulo AND umn <= uhi)
            UNION ALL
            SELECT 'hilbert', 'time_band',
                   (SELECT COUNT(*) FROM hstat WHERE {tfile})
            UNION ALL
            SELECT 'hilbert', 'user_and_time',
                   (SELECT COUNT(*) FROM hstat, upred
                    WHERE umx >= ulo AND umn <= uhi AND {tfile})
        )
        SELECT r.layout, r.predicate,
               CAST(CASE WHEN r.layout = 'zordered'
                         THEN (SELECT COUNT(*) FROM zstat)
                         ELSE (SELECT COUNT(*) FROM hstat) END AS INT)
                   AS files_total,
               CAST(r.files_read AS INT) AS files_read,
               CAST(CASE WHEN r.layout = 'zordered'
                         THEN (SELECT COUNT(*) FROM zstat)
                         ELSE (SELECT COUNT(*) FROM hstat) END AS INT)
                   - CAST(r.files_read AS INT) AS files_skipped,
               c.rows_selected,
               CASE WHEN r.layout = 'zordered'
                    THEN (SELECT bbox_area FROM zbox)
                    ELSE (SELECT bbox_area FROM hbox) END AS bbox_area
        FROM reads r JOIN counts c ON r.predicate = c.predicate
    """


ORACLE = {
    "zorder_clustering_report": _zorder_oracle_sql(),
    "hilbert_clustering_report": _hilbert_oracle_sql(),
    # tag pins the cold snapshot; branch head and fast-forwarded main both
    # read cold+hot = the full events table
    "snapshot_branch_tag": f"""
        SELECT 'tag_baseline' AS view, event_type,
               COUNT(*) AS n_events, {det_sum_sql("value", 2)} AS sum_value
        FROM events WHERE ts < {_TS7} GROUP BY event_type
        UNION ALL
        SELECT 'branch_audit', event_type,
               COUNT(*), {det_sum_sql("value", 2)}
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'main_after_ff', event_type,
               COUNT(*), {det_sum_sql("value", 2)}
        FROM events GROUP BY event_type
    """,
    "merge_upsert_events": f"""
        WITH src AS (
            SELECT event_id, event_type, value * 2 AS value
            FROM events WHERE ts >= TIMESTAMP '{_MERGE_CUT}'
        ),
        kept AS (
            SELECT event_id, event_type, value
            FROM events
            WHERE ts < {_TS7}
              AND event_id NOT IN (SELECT event_id FROM src)
        ),
        merged AS (SELECT * FROM kept UNION ALL SELECT * FROM src)
        SELECT event_type, COUNT(*) AS n_events,
               {det_sum_sql("value", 2)} AS sum_value
        FROM merged GROUP BY event_type
    """,
    "lifecycle_snapshot_counts": f"""
        SELECT 1 AS version, 'append' AS operation,
               (SELECT COUNT(*) FROM events WHERE ts < {_TS7}) AS row_count,
               8 AS n_files
        UNION ALL
        SELECT 2, 'append', (SELECT COUNT(*) FROM events), 16
        UNION ALL
        SELECT 3, 'compact', (SELECT COUNT(*) FROM events), 1
    """,
    "mor_delete_events": f"""
        SELECT 1 AS version, 'append' AS operation,
               (SELECT COUNT(*) FROM events) AS row_count,
               0 AS n_delete_files
        UNION ALL
        SELECT 2, 'delete.mor',
               (SELECT COUNT(*) FROM events WHERE event_type <> 'error'), 1
        UNION ALL
        SELECT 3, 'compact',
               (SELECT COUNT(*) FROM events WHERE event_type <> 'error'), 0
    """,
    # rollback restores v1's read exactly; the bad v2 stays auditable
    "snapshot_rollback_events": f"""
        SELECT 1 AS version,
               (SELECT COUNT(*) FROM events WHERE ts < {_TS7}) AS row_count,
               (SELECT COUNT(*) FROM events
                WHERE ts < {_TS7} AND value < 0) AS corrupted_rows
        UNION ALL
        SELECT 2, (SELECT COUNT(*) FROM events),
               (SELECT COUNT(*) FROM events
                WHERE (ts < {_TS7} AND value < 0)
                   OR (ts >= {_TS7} AND -value < 0))
        UNION ALL
        SELECT 3,
               (SELECT COUNT(*) FROM events WHERE ts < {_TS7}),
               (SELECT COUNT(*) FROM events
                WHERE ts < {_TS7} AND value < 0)
    """,
    # the MOR merge must be observationally identical to copy-on-write
    # (same oracle text assigned below, after the dict literal)
    # the position-delete twin must land the identical table state
    "mor_position_delete_events": f"""
        SELECT 1 AS version, 'append' AS operation,
               (SELECT COUNT(*) FROM events) AS row_count,
               0 AS n_delete_files
        UNION ALL
        SELECT 2, 'delete.pos',
               (SELECT COUNT(*) FROM events WHERE event_type <> 'error'), 1
        UNION ALL
        SELECT 3, 'compact',
               (SELECT COUNT(*) FROM events WHERE event_type <> 'error'), 0
    """,
    "wap_publish_audit": f"""
        SELECT 'main_rows_before_publish' AS metric,
               (SELECT COUNT(*) FROM events WHERE ts < {_TS7}) AS value
        UNION ALL
        SELECT 'staged_visible_rows', (SELECT COUNT(*) FROM events)
        UNION ALL
        SELECT 'aborted_orphan_files', CAST(3 AS BIGINT)
        UNION ALL
        SELECT 'published_version', CAST(2 AS BIGINT)
        UNION ALL
        SELECT 'main_rows_after_publish', (SELECT COUNT(*) FROM events)
    """,
    "snapshot_changelog": f"""
        WITH changes AS (
            SELECT 'insert' AS change_type, event_type,
                   CASE WHEN ts >= TIMESTAMP '{_MERGE_CUT}'
                        THEN value * 2 ELSE value END AS value
            FROM events WHERE ts >= {_TS7}
            UNION ALL
            SELECT 'update_postimage', event_type, value * 2
            FROM events
            WHERE ts >= TIMESTAMP '{_MERGE_CUT}' AND ts < {_TS7}
            UNION ALL
            SELECT 'update_preimage', event_type, value
            FROM events
            WHERE ts >= TIMESTAMP '{_MERGE_CUT}' AND ts < {_TS7}
        )
        SELECT change_type, event_type, COUNT(*) AS n_rows,
               {det_sum_sql("value", 2)} AS sum_value
        FROM changes GROUP BY change_type, event_type
    """,
    "clustering_skipping_report": """
        WITH bounds AS (
            SELECT MIN(user_id) AS umin,
                   MAX(user_id) - MIN(user_id) + 1 AS span
            FROM events
        ),
        tchunk AS (
            SELECT user_id,
                   (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 4)
                       // 30 AS c
            FROM events
        ),
        uchunk AS (
            SELECT user_id, ((user_id - umin) * 4) // span AS c
            FROM events CROSS JOIN bounds
        ),
        tb AS (SELECT c, MIN(user_id) mn, MAX(user_id) mx FROM tchunk GROUP BY c),
        ub AS (SELECT c, MIN(user_id) mn, MAX(user_id) mx FROM uchunk GROUP BY c),
        reads AS (
            SELECT 'time_ordered' AS layout,
                   CAST((SELECT COUNT(*) FROM tb) AS INT) AS files_total,
                   CAST(COUNT(*) AS INT) AS files_read
            FROM tb WHERE mx >= 2 AND mn <= 4
            UNION ALL
            SELECT 'user_clustered',
                   CAST((SELECT COUNT(*) FROM ub) AS INT),
                   CAST(COUNT(*) AS INT)
            FROM ub WHERE mx >= 2 AND mn <= 4
        )
        SELECT r.layout,
               r.files_total,
               r.files_read,
               r.files_total - r.files_read AS files_skipped,
               (SELECT COUNT(*) FROM events
                WHERE user_id BETWEEN 2 AND 4) AS rows_selected
        FROM reads r
    """,
    "file_skipping_report": f"""
        WITH chunked AS (
            SELECT ts,
                   (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) * 4)
                       // 30 AS c
            FROM events
        ),
        bounds AS (SELECT c, MIN(ts) AS mn, MAX(ts) AS mx FROM chunked GROUP BY c)
        SELECT CAST((SELECT COUNT(*) FROM bounds) AS INT) AS files_total,
               CAST((SELECT COUNT(*) FROM bounds
                     WHERE mx >= TIMESTAMP '{_SKIP_LO}'
                       AND mn <= TIMESTAMP '{_SKIP_HI}') AS INT) AS files_read,
               CAST((SELECT COUNT(*) FROM bounds)
                    - (SELECT COUNT(*) FROM bounds
                       WHERE mx >= TIMESTAMP '{_SKIP_LO}'
                         AND mn <= TIMESTAMP '{_SKIP_HI}') AS INT)
                   AS files_skipped,
               (SELECT COUNT(*) FROM events
                WHERE ts >= TIMESTAMP '{_SKIP_LO}'
                  AND ts <= TIMESTAMP '{_SKIP_HI}') AS rows_selected
    """,
    "schema_evolution_read": f"""
        SELECT CASE WHEN ts >= {_TS7}
                    THEN concat('agent_', CAST(user_id % 3 AS VARCHAR))
                    ELSE '<pre-evolution>' END AS user_agent,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY user_agent
    """,
    # both generations derive the same device value; after the rename
    # the merged scan must see it for every row under the NEW name
    "schema_rename_read": """
        SELECT concat('dev_', CAST(user_id % 4 AS VARCHAR))
                   AS client_device,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY client_device
    """,
}

ORACLE["merge_upsert_mor_events"] = ORACLE["merge_upsert_events"]

# before: 12 appends × 2 files → 12 manifests, 13 planning GETs; after:
# rewrite_manifests(1) → 1 manifest, 2 GETs; data files and every read
# unchanged (same row_count/sum_value on both rows — the metadata-only
# proof the Spark side also asserts in-engine)
ORACLE["manifest_lifecycle_report"] = f"""
    WITH agg AS (
        SELECT COUNT(*) AS row_count,
               {det_sum_sql("value", 2)} AS sum_value
        FROM events
    )
    SELECT 'before' AS phase, 12 AS n_commits, 24 AS n_data_files,
           12 AS n_manifests, 13 AS planning_gets, row_count, sum_value
    FROM agg
    UNION ALL
    SELECT 'after', 13, 24, 1, 2, row_count, sum_value FROM agg
"""

# 5 day-range × 2 user-half appends × 2 files over stats_cols=(ts,
# user_id); the days-7..9 window overlaps ONE day range (= 2 manifests,
# one per user half). ts-only: 8/10 manifests skipped from the manifest
# LIST alone (zero manifest opens), 4 files read, 3 GETs. Adding the
# lower-user-half predicate prunes the upper-half manifest via the
# SECOND stats column's summary: 9/10 skipped, 2 files, 2 GETs (vs 11
# without summaries; the footer path stays a constant 21).
# rewrite_manifests(1) then cuts the LIST length 10 -> 1 (the 78 GB/yr
# metadata-size axis) while per-entry stats hold the read at the same 2
# files. The user split is exact integer arithmetic on both engines.
ORACLE["manifest_pruning_report"] = """
    WITH s AS (
        SELECT (MIN(user_id) + MAX(user_id) + 1) // 2 AS split FROM events
    ),
    w1 AS (
        SELECT COUNT(*) AS window_rows FROM events
        WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
          AND ts <  TIMESTAMP '2024-01-10 00:00:00'
    ),
    w2 AS (
        SELECT COUNT(*) AS window_rows FROM events, s
        WHERE ts >= TIMESTAMP '2024-01-07 00:00:00'
          AND ts <  TIMESTAMP '2024-01-10 00:00:00'
          AND user_id < split
    ),
    w3 AS (  -- promo_value IS NOT NULL == day-of-month <= 15
        SELECT COUNT(*) AS window_rows FROM events
        WHERE EXTRACT(day FROM ts) <= 15
    ),
    w4 AS (  -- promo_value IS NULL == day-of-month >= 16
        SELECT COUNT(*) AS window_rows FROM events
        WHERE EXTRACT(day FROM ts) >= 16
    )
    SELECT 'ts_only' AS phase, 20 AS files_total, 4 AS files_read,
           10 AS manifests_total, 8 AS manifests_skipped,
           8 AS skipped_by_summary, 3 AS planning_gets,
           11 AS gets_without_summaries, 21 AS footer_path_gets, window_rows
    FROM w1
    UNION ALL
    SELECT 'ts_and_user', 20, 2, 10, 9, 9, 2, 11, 21, window_rows FROM w2
    UNION ALL
    SELECT 'promo_not_null', 20, 12, 10, 4, 4, 7, 11, 21, window_rows FROM w3
    UNION ALL
    SELECT 'promo_null', 20, 12, 10, 4, 4, 7, 11, 21, window_rows FROM w4
    UNION ALL
    SELECT 'after_rewrite', 20, 2, 1, 0, 0, 2, 2, 21, window_rows FROM w2
"""

# v1 = all events; v2 = minus errors (one vector per touched file);
# v3 = minus errors+clicks (vectors MERGED, never stacked — dv_ok pins
# it in-engine); v4 = compacted, vectors materialized and cleared
ORACLE["dv_delete_events"] = """
    SELECT 1 AS version, 'append' AS operation,
           (SELECT COUNT(*) FROM events) AS row_count, TRUE AS dv_ok
    UNION ALL
    SELECT 2, 'delete.dv',
           (SELECT COUNT(*) FROM events WHERE event_type <> 'error'), TRUE
    UNION ALL
    SELECT 3, 'delete.dv',
           (SELECT COUNT(*) FROM events
            WHERE event_type NOT IN ('error', 'click')), TRUE
    UNION ALL
    SELECT 4, 'compact',
           (SELECT COUNT(*) FROM events
            WHERE event_type NOT IN ('error', 'click')), TRUE
"""

ORACLE["bloom_point_lookup_report"] = _bloom_oracle_sql()

# per-generation planning recomputed from the same chunk bounds: gen-1
# (user-bucketed) bounds all straddle the predicate, gen-2 (day-bucketed)
# prunes to the buckets the range touches; rows come from the same
# inclusive [lo, hi] filter the pruned read applies
ORACLE["spec_evolution_skipping_report"] = f"""
    WITH g1 AS (
        SELECT ts, user_id FROM events WHERE ts < TIMESTAMP '{_PE_CUT}'
    ),
    ub AS (
        SELECT MIN(user_id) AS umin,
               MAX(user_id) - MIN(user_id) + 1 AS span
        FROM g1
    ),
    c1 AS (
        SELECT ts, ((user_id - umin) * 4) // span AS c
        FROM g1 CROSS JOIN ub
    ),
    b1 AS (SELECT c, MIN(ts) AS mn, MAX(ts) AS mx FROM c1 GROUP BY c),
    c2 AS (
        SELECT ts,
               (date_diff('day', DATE '2024-01-16', CAST(ts AS DATE)) * 4)
                   // 15 AS c
        FROM events WHERE ts >= TIMESTAMP '{_PE_CUT}'
    ),
    b2 AS (SELECT c, MIN(ts) AS mn, MAX(ts) AS mx FROM c2 GROUP BY c)
    SELECT 1 AS generation, 'user_bucket4' AS spec,
           CAST((SELECT COUNT(*) FROM b1) AS INT) AS files_total,
           CAST((SELECT COUNT(*) FROM b1
                 WHERE mx >= TIMESTAMP '{_PE_LO}'
                   AND mn <= TIMESTAMP '{_PE_HI}') AS INT) AS files_read,
           CAST((SELECT COUNT(*) FROM b1)
                - (SELECT COUNT(*) FROM b1
                   WHERE mx >= TIMESTAMP '{_PE_LO}'
                     AND mn <= TIMESTAMP '{_PE_HI}') AS INT)
               AS files_skipped,
           (SELECT COUNT(*) FROM g1
            WHERE ts >= TIMESTAMP '{_PE_LO}'
              AND ts <= TIMESTAMP '{_PE_HI}') AS rows_selected
    UNION ALL
    SELECT 2, 'day_bucket4',
           CAST((SELECT COUNT(*) FROM b2) AS INT),
           CAST((SELECT COUNT(*) FROM b2
                 WHERE mx >= TIMESTAMP '{_PE_LO}'
                   AND mn <= TIMESTAMP '{_PE_HI}') AS INT),
           CAST((SELECT COUNT(*) FROM b2)
                - (SELECT COUNT(*) FROM b2
                   WHERE mx >= TIMESTAMP '{_PE_LO}'
                     AND mn <= TIMESTAMP '{_PE_HI}') AS INT),
           (SELECT COUNT(*) FROM events
            WHERE ts >= TIMESTAMP '{_PE_CUT}'
              AND ts >= TIMESTAMP '{_PE_LO}'
              AND ts <= TIMESTAMP '{_PE_HI}')
    ORDER BY generation
"""

# three generations reconstructed by event_id residue; every amount is
# exactly double-representable, the sum folds through DECIMAL
ORACLE["type_widening_read"] = f"""
    WITH src AS (
        SELECT CAST(1 + (event_id % 3) AS INT) AS gen,
               CASE WHEN event_id % 3 = 0 THEN CAST(user_id AS DOUBLE)
                    WHEN event_id % 3 = 1
                        THEN CAST(2200000000 + user_id AS DOUBLE)
                    ELSE user_id + 0.5 END AS amount
        FROM events
    )
    SELECT gen, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {det_sum_sql("amount")} AS amount_sum,
           MAX(amount) AS amount_max
    FROM src GROUP BY gen ORDER BY gen
"""

# gen-1 (even event_id) rows read the initial default; gen-2 rows keep
# their written tier, genuine NULLs included
ORACLE["column_default_read"] = """
    WITH src AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 'standard'
                    WHEN user_id % 4 = 0 THEN NULL
                    ELSE concat('tier_', CAST(user_id % 3 AS VARCHAR)) END
                   AS tier,
               user_id
        FROM events
    )
    SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM src GROUP BY tier ORDER BY tier NULLS FIRST
"""

# id assignment replayed analytically: rank by event_id within parity,
# odd half offset by the even half's count; a rewrite creates no rows so
# pre == post by construction — any drift breaks the sums
ORACLE["row_lineage_report"] = """
    WITH ids AS (
        SELECT event_type,
               (ROW_NUMBER() OVER (PARTITION BY event_id % 2
                                   ORDER BY event_id) - 1)
               + CASE WHEN event_id % 2 = 1
                      THEN (SELECT COUNT(*) FROM events
                            WHERE event_id % 2 = 0)
                      ELSE 0 END AS rid
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rid) AS BIGINT) AS row_id_sum,
           CAST(SUM(rid) AS BIGINT) AS row_id_sum_post,
           TRUE AS ids_preserved
    FROM ids GROUP BY event_type ORDER BY event_type
"""

ORACLE["table_ndv_stats_report"] = """
    SELECT col_name,
           (SELECT COUNT(*) FROM events) AS n_rows,
           exact_ndv, TRUE AS ndv_est_ok, TRUE AS rows_match
    FROM (
        SELECT 'event_id' AS col_name,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_ndv
        FROM events
        UNION ALL
        SELECT 'event_type', CAST(COUNT(DISTINCT event_type) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'user_id', CAST(COUNT(DISTINCT user_id) AS BIGINT)
        FROM events
    ) ORDER BY col_name
"""

ORACLE["merge_full_sync_events"] = f"""
    SELECT (SELECT COUNT(*) FROM events
            WHERE ts >= TIMESTAMP '{_MF_CUT_LO}'
              AND ts < TIMESTAMP '{_MF_CUT_HI}') AS updated,
           (SELECT COUNT(*) FROM events
            WHERE ts >= TIMESTAMP '{_MF_CUT_HI}') AS inserted,
           (SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '{_MF_CUT_LO}') AS deleted,
           (SELECT COUNT(*) FROM events
            WHERE ts < TIMESTAMP '{_MF_CUT_HI}') AS rows_before,
           (SELECT COUNT(*) FROM events
            WHERE ts >= TIMESTAMP '{_MF_CUT_LO}') AS rows_after,
           (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
            FROM events
            WHERE ts >= TIMESTAMP '{_MF_CUT_LO}') AS days_after
"""

# v1 expires (outside keep_last=2, not pinned); v2 survives via the tag,
# whose read must still see quarters 0+1 after GC
ORACLE["snapshot_expiry_report"] = """
    SELECT 'current_rows' AS metric,
           (SELECT COUNT(*) FROM events) AS value
    UNION ALL SELECT 'expired_snapshots', 1
    UNION ALL SELECT 'snapshots_after', 3
    UNION ALL SELECT 'snapshots_before', 4
    UNION ALL SELECT 'tag_rows',
        (SELECT COUNT(*) FROM events WHERE event_id % 4 IN (0, 1))
    ORDER BY metric
"""

# `.snapshots` summaries recomputed from the residue classes the
# fixture's writes were defined by
ORACLE["snapshots_summary_report"] = """
    WITH c AS (
        SELECT
            COUNT(*) FILTER (event_id % 3 = 0) AS c0,
            COUNT(*) FILTER (event_id % 3 = 1) AS c1,
            COUNT(*) FILTER (event_id % 3 = 2) AS c2,
            COUNT(*) AS n
        FROM events
    )
    SELECT * FROM (
        SELECT 1 AS version, 'append' AS operation,
               3 AS added_files, 0 AS removed_files, 3 AS n_files,
               c0 AS added_rows, CAST(0 AS BIGINT) AS removed_rows,
               c0 AS total_rows FROM c
        UNION ALL
        SELECT 2, 'append', 2, 0, 5, c1, 0, c0 + c1 FROM c
        UNION ALL
        SELECT 3, 'append', 1, 0, 6, c2, 0, n FROM c
        UNION ALL
        SELECT 4, 'compact', 1, 6, 1, n, n, n FROM c
    ) ORDER BY version
"""

# `.partitions` from manifest stats vs the raw rows: the parity
# sub-chunk layout makes even n_files recomputable from data
ORACLE["partitions_metadata_report"] = """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS partition_day,
           CAST(COUNT(DISTINCT user_id % 2) AS INT) AS n_files,
           COUNT(*) AS row_count,
           MIN(value) AS value_min,
           MAX(value) AS value_max,
           CAST(COUNT(*) - COUNT(value) AS BIGINT) AS null_values
    FROM events
    GROUP BY 1 ORDER BY 1
"""
