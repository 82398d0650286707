"""The snapshot log: the commit protocol every snapshot-table writer uses.

A table's metadata is a log of immutable JSON manifests
``<path>/snapshots/<prefix><N>.json`` — ``v<N>.json`` for main,
``branch-<name>-v<N>.json`` for a branch. A writer commits version N+1
by exclusively creating its file: a private temp file is ``os.link``-ed
into place, and link, unlike rename, fails when the target exists, so of
writers racing for one version exactly one wins. The filesystem is the
arbiter, the role of Iceberg's atomic metadata-pointer swap (P:205-224).
The loser re-reads the new head, re-bases its proposal and retries.

It also holds the one schema rule (a commit records what it writes,
:func:`merge_schema`; both table faces read :func:`table_schema`) and
the read side every planner shares: which snapshot a read names
(:func:`resolve`, with the ``tag-<name>.json`` ref layout), the per-file
column stats a parquet footer proves (:func:`footer_stats`), the one
pruning rule over those stats (:func:`may_match`) and the Bloom sidecar
family (:func:`bloom_may_contain`).

Stdlib only (pyarrow is imported inside :func:`footer_stats`): the
Python DataSource (``sources.pyds``) ships this module by value to
workers that cannot import the package.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

# The loop retries until it wins a version; bound it so a pathological
# filesystem (e.g. link() failing spuriously) surfaces as an error instead
# of a hang. Far above any plausible contention (writers make progress:
# every retry means someone else committed).
_MAX_COMMIT_RETRIES = 1000


def versions(snap_dir: str, prefix: str = "v") -> list[int]:
    """Committed versions of the log ``prefix`` under ``snap_dir``, oldest
    first (anchored match: branch ``rel`` never lists ``rel-v2``'s files)."""
    pat = re.compile(rf"{re.escape(prefix)}(\d+)\.json")
    return sorted(
        int(m.group(1)) for f in os.listdir(snap_dir) if (m := pat.fullmatch(f))
    )


def current(snap_dir: str, prefix: str = "v") -> int:
    """The head version; 0 for a log with no commit yet."""
    vs = versions(snap_dir, prefix)
    return vs[-1] if vs else 0


def read(snap_dir: str, version: int, prefix: str = "v") -> dict:
    """The manifest of ``version``; version 0 is the empty table."""
    if version == 0:
        return {"files": []}
    with open(os.path.join(snap_dir, f"{prefix}{version}.json")) as fh:
        return json.load(fh)


def create(path: str, doc: dict) -> bool:
    """Exclusively create the JSON file ``path``; False when it exists."""
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def snapshot(
    version: int,
    operation: str,
    files: list[str],
    head: dict,
    snap_dir: str,
    schema: dict | None = None,
    delete_files: list[dict] | None = None,
    prev: dict | None = None,
) -> dict:
    """The manifest core of commit ``version`` proposed over ``head``.

    A file keeps what ``prev`` (default the head; a rollback or branch
    publish passes the manifest its files come from) records for it:
    its data SEQUENCE number (Iceberg v2: equality deletes apply only to
    files with seq <= theirs) and its schema id (``file_schemas`` into
    ``schemas``, with ``schema_id`` naming the table's: Iceberg's schema
    list). A file new to the commit takes ``version`` and the id of
    ``schema``, the Spark JSON schema it was written under, which
    :func:`merge_schema` merges into ``prev``'s :func:`table_schema` —
    a write the table cannot read raises here, before any manifest is
    written. ``delete_files`` defaults to the head's tombstones, so an
    append carries them."""
    prev = head if prev is None else prev
    seqs = prev.get("file_seqs", {})
    ids = prev.get("file_schemas", {})
    schemas = list(prev.get("schemas", []))
    table = table_schema(snap_dir, prev)
    new = [f for f in files if f not in ids]
    if new:
        schema = _nullable(schema)
        table = merge_schema(table, schema)
        ids = {**ids, **dict.fromkeys(new, _schema_id(schemas, schema))}
    return {
        "version": version,
        "operation": operation,
        "timestamp": time.time(),
        "files": files,
        "file_seqs": {f: seqs.get(f, version) for f in files},
        "delete_files": (
            head.get("delete_files", []) if delete_files is None else delete_files
        ),
        "schema_id": _schema_id(schemas, table),
        "schemas": schemas,
        "file_schemas": {f: ids[f] for f in files},
    }


def commit(snap_dir: str, name: str, attempt, prefix: str = "v") -> int:
    """The compare-and-swap loop: ``attempt(base, head)`` proposes version
    ``base + 1`` over the head manifest and returns whether it won (it
    raises to abort, e.g. on a conflict). Returns the committed version;
    raises RuntimeError naming ``name`` when every retry lost."""
    for _ in range(_MAX_COMMIT_RETRIES):
        base = current(snap_dir, prefix)
        if attempt(base, read(snap_dir, base, prefix)):
            return base + 1
    raise RuntimeError(f"{name}: commit retries exhausted")


# -- the table schema ---------------------------------------------------------
# Declared schema changes beside the manifests (the metadata.json role):
# widenings {column: type} and initial defaults {column: {"type": type,
# "default": value}}, types in Spark JSON spelling.
TYPES = "types.json"
DEFAULTS = "defaults.json"
# Iceberg's lossless promotions: a narrower file column reads cast up.
_WIDER = {"integer": ("long", "double"), "long": ("double",), "float": ("double",)}


def declared(snap_dir: str, name: str) -> dict:
    """The declared widenings (``TYPES``) or defaults (``DEFAULTS``) of
    the table logged in ``snap_dir``; {} when none was declared."""
    try:
        with open(os.path.join(snap_dir, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _nullable(t):
    """Spark JSON type ``t`` with every field, element and map value
    nullable, as Spark's parquet scan reads it."""
    kind = t["type"] if isinstance(t, dict) else None
    if kind == "struct":
        fs = [dict(f, nullable=True, type=_nullable(f["type"])) for f in t["fields"]]
        return dict(t, fields=fs)
    if kind == "array":
        return dict(t, containsNull=True, elementType=_nullable(t["elementType"]))
    if kind == "map":
        return dict(t, valueContainsNull=True, valueType=_nullable(t["valueType"]))
    return t


def _schema_id(schemas: list, schema: dict) -> int:
    """The id (list index) of ``schema`` in ``schemas``, appended if new."""
    if schema not in schemas:
        schemas.append(schema)
    return schemas.index(schema)


def merge_schema(table: dict, schema: dict) -> dict:
    """Schema ``schema`` of the files a commit writes merged into the
    ``table`` schema (both Spark JSON, nullable): a new column appends; a
    column passes when its type is the table's or narrower along
    ``_WIDER``. Anything else — a wider type (``widen_column_type``
    declares one), an unrelated type, a name differing from a table
    column only in case — raises a ValueError naming the column and both
    types."""
    fields = list(table["fields"])
    have = {f["name"].lower(): f for f in fields}
    for f in schema["fields"]:
        t = have.get(f["name"].lower())
        if t is None:
            have[f["name"].lower()] = f
            fields.append(f)
        elif t["name"] != f["name"] or not (
            f["type"] == t["type"]
            or isinstance(f["type"], str) and t["type"] in _WIDER.get(f["type"], ())
        ):
            raise ValueError(
                f"column {f['name']!r} is written as {json.dumps(f['type'])}, "
                f"but the table's {t['name']!r} is {json.dumps(t['type'])}"
            )
    return dict(table, fields=fields)


def table_schema(snap_dir: str, manifest: dict) -> dict:
    """The Spark JSON schema a read of snapshot ``manifest`` returns: the
    recorded table schema with each declared widening applied and each
    declared default column it lacks appended. A manifest with files but
    no schema record raises a ValueError naming it."""
    if "schemas" in manifest:
        rec = manifest["schemas"][manifest["schema_id"]]
    elif manifest["files"]:
        raise ValueError(
            f"snapshot v{manifest.get('version')} of {os.path.dirname(snap_dir)}"
            " has no schema record"
        )
    else:  # the empty table
        rec = {"type": "struct", "fields": []}
    widen = declared(snap_dir, TYPES)
    fields = [dict(f, type=widen.get(f["name"], f["type"])) for f in rec["fields"]]
    names = {f["name"] for f in fields}
    fields += [
        {"name": c, "type": d["type"], "nullable": True, "metadata": {}}
        for c, d in declared(snap_dir, DEFAULTS).items()
        if c not in names
    ]
    return {"type": "struct", "fields": fields}


# -- refs: which snapshot a read names ----------------------------------------
def tag_path(snap_dir: str, name: str) -> str:
    """The file of tag ``name``, an immutable named ref to a main
    snapshot: ``{"name", "version", "timestamp"}``."""
    return os.path.join(snap_dir, f"tag-{name}.json")


def tags(snap_dir: str) -> list[dict]:
    """Every tag under ``snap_dir``, in file-name order."""
    out = []
    for f in sorted(os.listdir(snap_dir)):
        if f.startswith("tag-") and f.endswith(".json"):
            with open(os.path.join(snap_dir, f)) as fh:
                out.append(json.load(fh))
    return out


def resolve(
    snap_dir: str,
    version: int | str | None = None,
    as_of: float | None = None,
    tag: str | None = None,
) -> dict:
    """The manifest a read names: ``tag``, else ``version``, else the
    newest snapshot committed at or before epoch seconds ``as_of``, else
    the head (version 0 is the empty table). An unknown tag, a version
    the log does not hold (never committed, or expired) and an ``as_of``
    before the first commit each raise a ValueError naming it. The head
    costs one listing and one manifest read, a version one read."""
    if tag is not None:
        try:
            with open(tag_path(snap_dir, tag)) as fh:
                version = json.load(fh)["version"]
        except FileNotFoundError:
            raise ValueError(f"unknown tag {tag!r}") from None
    elif version is None and as_of is not None:
        at = [v for v in versions(snap_dir) if read(snap_dir, v)["timestamp"] <= as_of]
        if not at:
            raise ValueError(f"no snapshot at or before {as_of}")
        version = at[-1]
    elif version is None:
        version = current(snap_dir)
    try:
        return read(snap_dir, int(version))
    except FileNotFoundError:
        table = os.path.dirname(snap_dir)
        raise ValueError(f"no snapshot v{version} in {table}") from None


# -- file stats and the pruning rule ------------------------------------------
def _aware_utc(v):
    """A naive footer-stat timestamp relabelled UTC (sessions pin the UTC
    time zone, so naive NTZ-sourced stats are UTC wall clock); any other
    value unchanged. Planners then compare instants with aware bounds."""
    import datetime as _dt

    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=_dt.timezone.utc)
    return v


def footer_stats(path: str, columns) -> dict:
    """``{column: [min, max, null_count, rows]}`` for each of ``columns``
    from the row-group statistics of the parquet footer at ``path`` (one
    footer read for all of them). A field the footer cannot vouch for is
    None: a row group without statistics or null counts, a column absent
    from the file, or a zero-row file leaves ``[None, None, None, rows]``.
    All-NULL row groups are exact, so a column NULL in every row is
    ``[None, None, n, n]``, Iceberg's contains-only-null shape. Timestamp
    bounds come back tz-aware UTC, not serialized."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    names = md.schema.names
    out = {}
    for col in columns:
        out[col] = [None, None, None, md.num_rows]
        if col not in names or md.num_rows == 0:
            continue
        idx, mins, maxs, nulls = names.index(col), [], [], 0
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(idx).statistics
            if st is None or st.null_count is None:
                break
            if st.has_min_max:
                mins.append(st.min)
                maxs.append(st.max)
            elif st.null_count != rgm.num_rows:
                break
            nulls += st.null_count
        else:
            if mins:
                out[col][:2] = _aware_utc(min(mins)), _aware_utc(max(maxs))
            out[col][2] = nulls
    return out


def may_match(stats: list | None, op: str, value=None) -> bool:
    """Whether a file whose column stats are ``stats`` ``[min, max,
    null_count, rows]`` may hold a row with ``column <op> value`` — False
    only when the stats PROVE none can (Iceberg's
    ``InclusiveMetricsEvaluator``). ``op``: ``=``, ``<``, ``<=``, ``>``,
    ``>=``, ``is_null`` or ``not_null``. None stats or a None field are
    unknown and prove nothing, and a value the bounds cannot be compared
    with keeps the file. No comparison matches NULL, so stats proving
    every row NULL (null_count == rows > 0) fail every op but ``is_null``."""
    if stats is None:
        return True
    lo, hi, nulls, rows = stats
    if op == "is_null":
        return nulls != 0
    if nulls is not None and rows and nulls == rows:
        return False
    try:
        if op in ("=", ">", ">=") and hi is not None:
            if hi < value or (op == ">" and hi == value):
                return False
        if op in ("=", "<", "<=") and lo is not None:
            if lo > value or (op == "<" and lo == value):
                return False
    except TypeError:  # incomparable types (e.g. tz-aware vs naive)
        pass
    return True


def conjuncts(predicates: dict) -> list[tuple]:
    """The planners' ``predicates`` mapping as the conjunction of
    ``(column, op, value)`` :func:`may_match` evaluates. Each value is a
    closed range ``(lo, hi)`` (``>= lo`` and ``<= hi``) or ``"is_null"``
    / ``"is_not_null"`` (also SQL-spelled ``"IS NULL"`` / ``"IS NOT
    NULL"``); anything else raises a ValueError."""
    out = []
    for col, p in predicates.items():
        if isinstance(p, str):
            key = p.strip().lower().replace(" ", "_")
            if key not in ("is_null", "is_not_null"):
                raise ValueError(
                    f"unknown predicate {p!r} for {col!r}: expected a "
                    "(lo, hi) range, 'is_null', or 'is_not_null'"
                )
            out.append((col, "is_null" if key == "is_null" else "not_null", None))
        elif p is None or p[0] is None or p[1] is None:
            raise ValueError(
                f"scan planning needs closed bounds (lo, hi); got {p!r} for {col!r}"
            )
        else:
            out += [(col, ">=", p[0]), (col, "<=", p[1])]
    return out


def survives(stats: dict, conj: list[tuple]) -> bool:
    """Whether a file with column stats ``stats`` ``{column: [min, max,
    null_count, rows]}`` may match every conjunct of ``conj``."""
    return all(may_match(stats.get(c), op, v) for c, op, v in conj)


# -- Bloom sidecars: point-lookup pruning beyond min/max ----------------------
# h_i(x) = ((a_i*x + b_i) mod P) mod M over an integer column, exact
# integer arithmetic that the SQL oracles recompute bit for bit. At test
# scale a_i*x stays well inside int64; 64-bit keys would need a modmul or
# xxhash64 step, the planning is unchanged.
BLOOM_M = 65536  # bits per file
BLOOM_P = 1_000_000_007
BLOOM_A = (2654435761, 2246822519, 3266489917, 668265263)
BLOOM_B = (1, 7, 31, 127)


def bloom_path(snap_dir: str, version: int, column: str) -> str:
    """The sidecar of ``column`` pinned to snapshot ``version``: JSON
    ``{data file: sorted set bit positions}`` listing every file."""
    return os.path.join(snap_dir, f"bloom_v{version}_{column}.json")


def bloom_sidecar(snap_dir: str, version: int, column: str) -> dict | None:
    """The sidecar as ``{data file: set of positions}``, or None when
    snapshot ``version`` has none for ``column``."""
    try:
        with open(bloom_path(snap_dir, version, column)) as fh:
            return {f: set(ps) for f, ps in json.load(fh).items()}
    except FileNotFoundError:
        return None


def bloom_may_contain(sidecar: dict, file: str, value: int) -> bool:
    """Whether ``file`` may hold ``value``: every probe position set. A
    file the sidecar does not list is kept."""
    bits = sidecar.get(file)
    need = {((a * value + b) % BLOOM_P) % BLOOM_M for a, b in zip(BLOOM_A, BLOOM_B)}
    return bits is None or need <= bits
