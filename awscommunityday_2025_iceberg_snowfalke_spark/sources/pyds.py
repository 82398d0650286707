"""Python DataSource (Spark 4 DataSource API): the snapshot table as a
first-class ``spark.read.format("snapshot")`` source.

This is the DataSource-V2 face of ``operators.lifecycle.SnapshotTable`` —
the reference reads its Iceberg tables through an engine-integrated table
format (SURVEY §2.1 S5); this source gives our snapshot layer the same
integration, through Spark's public Python DataSource API:

- **schema** = the table schema the snapshot log records, widenings and
  initial defaults applied (``snaplog.table_schema``, the rule
  ``SnapshotTable.read`` reads under): no data-file footer is opened to
  plan, and every Arrow batch is conformed to it;
- **split planning** = one ``InputPartition`` per manifest data file —
  the scan parallelizes across files exactly as Iceberg plans splits;
- **filter pushdown** (``pushFilters``): comparison and NULL predicates
  prune whole files against footer stats, and equality against a Bloom
  sidecar, before any data read — Iceberg's manifest-stats planning walk
  (aws-community-builders-presentation.md:247-258) running *inside* the
  source, under the rule ``SnapshotTable``'s planners use
  (``snaplog.may_match``). All filters are also returned as unhandled so
  Spark re-applies them row-level (pruning is an optimization, never a
  semantics change);
- **time travel** via ``option("version", N)`` / ``option("asOf", ts)``
  / ``option("tag", name)`` (T4 — ``VERSION AS OF`` / ``TIMESTAMP AS
  OF``), resolved by ``snaplog.resolve`` as ``SnapshotTable.read`` does;
- **reads** stream Arrow record batches (the vectorized path, no
  row-by-row Python).

Register once per session with :func:`register`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .. import snaplog

FORMAT_NAME = "snapshot"


def register(spark) -> None:
    """Register the ``snapshot`` format on this session (idempotent).

    - Enables Python-datasource filter pushdown (runtime SQL conf,
      default-off in Spark 4.1) — without it Spark refuses a reader that
      implements ``pushFilters``.
    - Registers THIS module and ``snaplog`` (the commit protocol, the
      schema rule, the ref resolver, the footer-stats reader, the
      pruning rule and the Bloom family it uses) for cloudpickle
      by-value serialization: the DataSource class is unpickled in
      Spark's plan-time Python runner and in executor workers, which do
      not inherit the driver's sys.path — by-value shipping makes the
      source work from any session (a vanilla one included) with no
      PYTHONPATH arrangement.
      Everything else the shipped code touches is stdlib/pyarrow/pyspark,
      importable everywhere.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(snaplog)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)


def _resolve(path: str, options) -> dict:
    """The manifest of the snapshot the ``version``/``asOf``/``tag``
    options name (``snaplog.resolve``: an unknown one raises a ValueError
    naming it). This source reads data files only, so a snapshot that
    carries tombstones (merge-on-read deletes, deletion vectors) is
    refused rather than read with its deleted rows resurrected."""
    as_of = options.get("asof")
    manifest = snaplog.resolve(
        os.path.join(path, "snapshots"),
        options.get("version"),
        None if as_of is None else float(as_of),
        options.get("tag"),
    )
    version = manifest.get("version", 0)
    dels = [d["file"] for d in manifest.get("delete_files", [])]
    if dels:
        raise ValueError(
            f"snapshot v{version} of {path} carries delete files {dels}; "
            'format("snapshot") reads data files only — read it with '
            "SnapshotTable.read, or compact() the table first"
        )
    return manifest


def _defaults(path: str) -> dict:
    """``{column: initial default}`` of the table at ``path``."""
    declared = snaplog.declared(os.path.join(path, "snapshots"), snaplog.DEFAULTS)
    return {c: d["default"] for c, d in declared.items()}


# the pushed filters the pruning rule can evaluate, as snaplog.may_match ops
_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    IsNull: "is_null",
    IsNotNull: "not_null",
}


@dataclass
class _FileSplit(InputPartition):
    path: str


def _read_split(reader, partition: _FileSplit):
    """Both readers' ``read``: one data file's record batches conformed to
    the schema the reader serves, as ``SnapshotTable`` reads it. A column
    the file lacks reads its initial default (``reader._fill``) or NULL,
    a narrower type is cast up, and a column the schema lacks (a later
    commit's, under a stream's start schema) is dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(reader._schema)
    with pq.ParquetFile(partition.path) as f:
        for b in f.iter_batches():
            have = set(b.schema.names)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(t.name).cast(t.type)
                    if t.name in have
                    else pa.array([reader._fill.get(t.name)] * b.num_rows).cast(t.type)
                    for t in target
                ],
                schema=target,
            )


class SnapshotReader(DataSourceReader):
    def __init__(self, options, schema=None):
        self._path = options["path"]
        m = _resolve(self._path, options)
        self._version = m.get("version", 0)
        self._files = [os.path.join(self._path, "data", f) for f in m["files"]]
        self._schema = schema
        self._fill = _defaults(self._path)

    def pushFilters(self, filters):
        """Keep the files whose footer stats may match every pushed
        filter on a top-level column and whose Bloom sidecar (where the
        snapshot has one for the column of an integer EqualTo) may hold
        the value. Min/max cannot prune an unclustered column; the
        sidecar can."""
        filters = list(filters)
        conj = [
            (f.attribute[0], _OPS[type(f)], getattr(f, "value", None))
            for f in filters
            if type(f) in _OPS and len(f.attribute) == 1
        ]
        if not conj:
            return filters
        snap_dir = os.path.join(self._path, "snapshots")
        probes = []
        for c, op, v in conj:
            if op == "=" and isinstance(v, int) and not isinstance(v, bool):
                sidecar = snaplog.bloom_sidecar(snap_dir, self._version, c)
                if sidecar is not None:
                    probes.append((sidecar, v))
        cols = {c for c, _, _ in conj}
        self._files = [
            p
            for p in self._files
            if all(
                snaplog.bloom_may_contain(sc, os.path.basename(p), v)
                for sc, v in probes
            )
            and snaplog.survives(snaplog.footer_stats(p, cols), conj)
        ]
        # every filter is re-applied by Spark row-level: file pruning is
        # a planning optimization, not filter ownership
        return filters

    def partitions(self):
        return [_FileSplit(p) for p in self._files]

    read = _read_split


def _all_commits(path: str) -> list[dict]:
    """Every commit manifest, oldest first."""
    snap_dir = os.path.join(path, "snapshots")
    return [snaplog.read(snap_dir, v) for v in snaplog.versions(snap_dir)]


class SnapshotStreamReader(DataSourceStreamReader):
    """Micro-batch stream of snapshot COMMITS (offset = snapshot version):
    each batch reads exactly the data files added by append commits in
    (start, end] — the Iceberg incremental append scan, so a downstream
    streaming query processes every ingested row exactly once across
    restarts (offsets live in the sink's checkpoint). Every batch reads
    under the schema the stream started with."""

    def __init__(self, options, schema):
        self._path = options["path"]
        self._schema = schema
        self._fill = _defaults(self._path)

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        commits = _all_commits(self._path)
        return {"version": commits[-1]["version"] if commits else 0}

    def partitions(self, start: dict, end: dict):
        # `prev` accumulates across ALL commits (a compaction's rewritten
        # file must not look "added" by the next append — its rows already
        # streamed from the original files); only append commits in
        # (start, end] contribute splits. Iceberg's incremental append
        # scan makes the same replace-vs-append distinction.
        prev: set = set()
        splits = []
        for m in _all_commits(self._path):
            added = [f for f in m["files"] if f not in prev]
            prev.update(m["files"])
            if (
                m["operation"] == "append"
                and start["version"] < m["version"] <= end["version"]
            ):
                splits.extend(
                    _FileSplit(os.path.join(self._path, "data", f)) for f in added
                )
        return splits

    read = _read_split

    def commit(self, end: dict) -> None:
        pass  # offsets are tracked by the engine's checkpoint


@dataclass
class _FilesWritten(WriterCommitMessage):
    files: list


class SnapshotArrowWriter(DataSourceArrowWriter):
    """``df.write.format("snapshot")`` — each task streams its Arrow
    batches into one data file (named with a uuid, invisible until
    commit); the driver-side ``commit()`` creates the next manifest
    exclusively (tmp + ``os.link``, ``snaplog``). Exactly the two-phase
    Iceberg commit protocol (P:205-224): data files first, metadata
    pointer swap last, so a failed job leaves only unreferenced files for
    orphan GC. ``abort()`` deletes the task outputs eagerly. The commit
    records the schema Spark hands the writer (``schema``, Spark JSON)
    for its files, under the rule ``SnapshotTable`` commits by
    (``snaplog.snapshot``)."""

    def __init__(self, path: str, overwrite: bool, schema: dict):
        self._path = path
        self._overwrite = overwrite
        self._schema = schema
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:
            return _FilesWritten(files=[])
        name = f"{uuid.uuid4().hex[:12]}.parquet"
        tbl = pa.Table.from_batches(batches)
        pq.write_table(tbl, os.path.join(self._path, "data", name))
        return _FilesWritten(files=[name])

    def commit(self, messages):
        # the CAS loop SnapshotTable commits through: a lost race re-bases
        # on the winner, so no concurrent append is ever dropped. An append
        # carries the head's tombstones and sequence numbers; an overwrite
        # replaces files and tombstones alike.
        added = [f for m in messages if m is not None for f in m.files]
        snap_dir = os.path.join(self._path, "snapshots")
        op = "overwrite" if self._overwrite else "append"

        def attempt(base: int, head: dict) -> bool:
            files = added if self._overwrite else head["files"] + added
            dels = [] if self._overwrite else None
            doc = snaplog.snapshot(
                base + 1, op, files, head, snap_dir, self._schema, dels
            )
            return snaplog.create(os.path.join(snap_dir, f"v{base + 1}.json"), doc)

        snaplog.commit(snap_dir, op, attempt)

    def abort(self, messages):
        for m in messages:
            if m is None:
                continue
            for f in m.files:
                try:
                    os.remove(os.path.join(self._path, "data", f))
                except OSError:
                    pass


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.types import StructType

        path = self.options["path"]
        m = _resolve(path, self.options)
        if not m["files"]:
            raise ValueError("empty snapshot table")
        snap_dir = os.path.join(path, "snapshots")
        return StructType.fromJson(snaplog.table_schema(snap_dir, m))

    def reader(self, schema) -> SnapshotReader:
        return SnapshotReader(self.options, schema)

    def streamReader(self, schema) -> SnapshotStreamReader:
        return SnapshotStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool) -> SnapshotArrowWriter:
        return SnapshotArrowWriter(
            self.options["path"], overwrite, schema.jsonValue()
        )


# --- driver-contract gate -----------------------------------------------------
def pyds_snapshot_scan(spark, sf_dir: str):
    """End-to-end through the registered format: build a 4-file snapshot
    table clustered by user_id, read it back via
    ``spark.read.format("snapshot")`` with a user_id range predicate —
    Spark pushes the comparisons into ``pushFilters``, the source prunes
    files on footer stats, Spark re-applies the filter row-level — then
    aggregate per event_type. The oracle recomputes from the raw events,
    so an unsound pruning decision surfaces as missing rows."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.lifecycle import SnapshotTable, _write_chunked
    from .registry import load

    ev = load(spark, sf_dir, "events")
    lo_hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    umin, umax = int(lo_hi[0]), int(lo_hi[1])
    span = umax - umin + 1
    ulo, uhi = umin + span // 4, umin + span // 2 - 1

    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="pyds_"))
    # map-side user-range bucketing (no NTILE-over-global-Window sort);
    # the oracle filters raw events, so chunk bounds are free to differ
    _write_chunked(
        tbl, ev.withColumn("_c", F.expr(f"((user_id - {umin}) * 4) DIV {span}"))
    )

    register(spark)
    df = (
        spark.read.format(FORMAT_NAME)
        .option("path", tbl.path)
        .load()
        .filter(F.col("user_id").between(ulo, uhi))
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def pyds_bloom_point_scan(spark, sf_dir: str):
    """Point lookups THROUGH the engine's own source API with Bloom
    pruning at plan time: documents land in a snapshot table chunked by a
    multiplicative doc_id scramble (footer min/max useless — every file
    spans the id domain), ``build_bloom_index`` writes the sidecar, and
    four ``doc_id = k`` reads via ``spark.read.format("snapshot")`` each
    push an EqualTo into ``pushFilters``, where the sidecar excludes
    every file the key provably isn't in (~1 split planned instead of 8;
    the plan-level test pins it). Spark re-applies the filter row-level,
    so pruning stays a pure optimization — the oracle's plain IN-list
    filter catches any unsound exclusion as missing rows.

    Scale: each point lookup plans O(k) sidecar probes + opens O(1)
    files; without the bloom the same read opens every file of an
    unclustered 100 TB table."""
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.lifecycle import SnapshotTable, _write_chunked
    from .registry import load

    docs = load(spark, sf_dir, "documents")
    tbl = SnapshotTable(spark, tempfile.mkdtemp(prefix="pydsbloom_"))
    _write_chunked(
        tbl,
        docs.select("doc_id", "lang", "n_chars").withColumn(
            "_c", (F.col("doc_id") * F.lit(2654435761)) % F.lit(8)
        ),
    )
    tbl.build_bloom_index("doc_id")

    register(spark)
    mx = int(docs.agg(F.max("doc_id")).collect()[0][0])
    out = None
    for p in (0, mx // 3, (2 * mx) // 3, mx):
        part = (
            spark.read.format(FORMAT_NAME)
            .option("path", tbl.path)
            .load()
            .filter(F.col("doc_id") == p)
        )
        out = part if out is None else out.unionByName(part)
    return out.select("doc_id", "lang", "n_chars").orderBy("doc_id")


QUERIES = {
    "pyds_snapshot_scan": pyds_snapshot_scan,
    "pyds_bloom_point_scan": pyds_bloom_point_scan,
}

ORACLE = {
    "pyds_snapshot_scan": """
        WITH bounds AS (
            SELECT MIN(user_id) AS umin,
                   MAX(user_id) - MIN(user_id) + 1 AS span
            FROM events
        )
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events, bounds
        WHERE user_id BETWEEN umin + span // 4 AND umin + span // 2 - 1
        GROUP BY event_type
    """,
    "pyds_bloom_point_scan": """
        WITH mxx AS (SELECT MAX(doc_id) AS m FROM documents),
        probes AS (
            SELECT CAST(0 AS BIGINT) AS p FROM mxx
            UNION ALL SELECT m // 3 FROM mxx
            UNION ALL SELECT (2 * m) // 3 FROM mxx
            UNION ALL SELECT m FROM mxx
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN probes ON d.doc_id = probes.p
        ORDER BY d.doc_id
    """,
}
