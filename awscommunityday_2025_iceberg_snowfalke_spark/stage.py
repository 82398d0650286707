"""Disk-backed staging for shared intermediates (the localCheckpoint fix).

Several operators materialize an intermediate that is consumed more than
once (the dedup shingle index, LSH candidate pairs, the IVF cell
assignment, per-round connected-components labels) or that must act as an
optimizer barrier (the documented ``InferFiltersFromGenerate`` hazard:
exploding a heavy computed array lets Catalyst infer a ``size(col) > 0``
filter whose substituted expression is pushed below the exchange, running
the heavy compute 3x on the scan stage — measured 8-10x regression at
sf0.1).

Round 2 used ``localCheckpoint(eager=True)`` for both purposes. That works
but is the wrong residency model at cluster scale:

- checkpoint blocks pin executor storage memory for the whole session
  (accumulation measurably slowed late queries ~2x in full-corpus
  profiling — see BASELINE.md);
- lineage is severed with no recovery path: on a real cluster a lost
  executor kills every query whose plan references the checkpoint.

This module stages intermediates as parquet in a per-session staging
directory instead. A fresh ``spark.read.parquet`` scan is a hard plan
barrier (consumer-side inferred filters cannot substitute expressions into
the producer's stages), holds zero executor memory (files live on disk,
served through the OS page cache), survives executor loss (any executor
can re-read a split), and is freed deterministically — ``discard`` for
loop intermediates, session temp-dir cleanup at exit for the rest.

SHARED-FILESYSTEM REQUIREMENT (cluster deployments): the staging root
must be a path every executor can read AND the driver can write — on a
real multi-node cluster that means a shared filesystem (HDFS/NFS/object
store mount), NOT the driver's local /tmp: ``df.write.parquet`` runs on
executors, so a driver-local tempdir would scatter part-files across
executor-local disks and the re-read would silently miss splits. Resolve
the root explicitly via (in precedence order) the Spark conf
``spark.graft.stageDir``, the env var ``SPARK_GRAFT_STAGE_DIR``, or — as
the local[-mode] default only — a ``tempfile.mkdtemp`` under the
driver's tempdir (correct in local mode where driver and executors share
one machine). Cluster jobs MUST set one of the two knobs to a shared
path; a warehouse-adjacent directory (e.g. ``<warehouse>/_staging``) is
the natural choice.

The write is eager by construction (an action runs before ``stage``
returns), which keeps the round-2 property that concurrent consumers never
race to materialize a shared plan.

Shared intermediates that several queries of one session reuse (table
scans, the shingle index, LSH candidates, connected-components labels,
SimHash signatures, the IVF store, the Gram table) go through
:func:`memo`, the stand-in for an engine's metadata and result caches:

- **Key.** The caller's key (e.g. ``("shingles", sf_dir)``) plus a
  fingerprint of the input tables the build reads: the sorted
  ``(file, length, mtime)`` list of one recursive listing through
  Hadoop's ``FileSystem`` API, which ``spark.read.parquet`` lists
  through, so any path Spark can read works. A lookup whose fingerprint
  differs from the stored one rebuilds the entry and replaces it, so a
  memoized value is never served after its input changed.
- **Lifetime.** Entries live per session, weakly keyed: a stopped
  session's entries are dropped, and ``spark.newSession()`` starts empty.
- **Reclamation.** A rebuild leaves the replaced value's staged files in
  place (a plan taken earlier may still scan them); the session staging
  root, and with it every staged output, is removed at exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading
import uuid
import weakref
from typing import Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_LOCK = threading.Lock()
_COUNTER = itertools.count()

# session → its staging root. Weak keys so a garbage-collected session
# doesn't pin the mapping; the atexit hook removes the directory itself.
_DIRS: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()
# session → {key: (input fingerprint, value)}, see :func:`memo`
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _configured_root(spark: SparkSession) -> str | None:
    """Explicit staging root: Spark conf ``spark.graft.stageDir`` first,
    then ``SPARK_GRAFT_STAGE_DIR`` from the environment; None → local
    tempdir fallback (single-machine deployments only)."""
    try:
        conf_root = spark.conf.get("spark.graft.stageDir", None)
    except Exception:
        conf_root = None
    return conf_root or os.environ.get("SPARK_GRAFT_STAGE_DIR") or None


def _session_root(spark: SparkSession) -> str:
    with _LOCK:
        root = _DIRS.get(spark)
        if root is None:
            configured = _configured_root(spark)
            if configured:
                # per-session subdir so concurrent sessions sharing one
                # cluster-wide staging root never collide; cleaned at exit
                root = os.path.join(
                    configured, "sparkgraft-stage-" + uuid.uuid4().hex[:12]
                )
                os.makedirs(root, exist_ok=True)
            else:
                root = tempfile.mkdtemp(prefix="sparkgraft-stage-")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            _DIRS[spark] = root
        return root


def fingerprint(spark: SparkSession, paths: Iterable[str]) -> tuple:
    """Sorted ``(file, length, mtime)`` of every file under ``paths``, from
    one recursive listing per path through Hadoop's ``FileSystem``. A
    missing path lists as empty, leaving the error to the read that
    needs it."""
    # one py4j round trip for the class, not one per package component
    hadoop_path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    # the context's shared conf: the session's newHadoopConf() copies it
    # on every call, which costs more than the listing itself
    conf = spark._jsc.hadoopConfiguration()
    files = []
    for p in paths:
        path = hadoop_path(p)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            continue
        # listStatus, not listFiles: the latter also fetches block locations
        pending = [path]
        while pending:
            for st in fs.listStatus(pending.pop()):
                if st.isDirectory():
                    pending.append(st.getPath())
                else:
                    files.append(
                        (st.getPath().toString(), st.getLen(), st.getModificationTime())
                    )
    return tuple(sorted(files))


def memo(
    spark: SparkSession,
    key: tuple,
    inputs: Iterable[str],
    build: Callable[[], T],
) -> T:
    """``build()``, reused for every later call in this session with the
    same ``key`` while the files under ``inputs`` (the table paths the
    build reads) are unchanged; a changed fingerprint rebuilds and
    replaces the entry. Concurrent misses may each build; the last one
    stored wins (the lock guards the dict, not the build, which may call
    :func:`memo` and :func:`stage` itself)."""
    fp = fingerprint(spark, inputs)
    with _LOCK:
        hit = _MEMO.setdefault(spark, {}).get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    with _LOCK:
        _MEMO.setdefault(spark, {})[key] = (fp, value)
    return value


def stage(df: DataFrame, name: str | None = None) -> DataFrame:
    """Materialize ``df`` to parquet under the session staging dir and
    return a scan of it. Eager (the write is an action); the returned
    DataFrame's plan is a plain file scan — a barrier Catalyst cannot push
    consumer expressions through, with no executor-memory residency and
    full fault tolerance (splits are re-readable on executor loss). The
    scan reads under the schema just written, so the write is the only
    Spark job (the file reader marks every field nullable, as inference
    would)."""
    spark = df.sparkSession
    path = os.path.join(
        _session_root(spark), name or f"s{next(_COUNTER)}"
    )
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


def staged_path(df: DataFrame) -> str | None:
    """Best-effort staging path of a DataFrame returned by :func:`stage`
    (for :func:`discard`); None if it isn't a single-path parquet scan."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    dirs = {os.path.dirname(f) for f in files}
    if len(dirs) == 1:
        d = dirs.pop()
        if d.startswith("file:"):
            d = d[len("file:"):]
        return d
    return None


def discard(df: DataFrame) -> None:
    """Delete the staging files behind a :func:`stage`-returned DataFrame.
    Use for loop intermediates (e.g. per-round connected-components labels)
    once the next round is staged; the DataFrame must not be read again."""
    d = staged_path(df)
    if d and os.path.basename(os.path.dirname(d)).startswith("sparkgraft-stage-"):
        shutil.rmtree(d, ignore_errors=True)
