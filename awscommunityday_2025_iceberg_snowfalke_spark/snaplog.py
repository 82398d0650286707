"""The snapshot log: the commit protocol every snapshot-table writer uses.

A table's metadata is a log of immutable JSON manifests
``<path>/snapshots/<prefix><N>.json`` — ``v<N>.json`` for main,
``branch-<name>-v<N>.json`` for a branch. A writer commits version N+1
by exclusively creating its file: a private temp file is ``os.link``-ed
into place, and link, unlike rename, fails when the target exists, so of
writers racing for one version exactly one wins. The filesystem is the
arbiter, the role of Iceberg's atomic metadata-pointer swap (P:205-224).
The loser re-reads the new head, re-bases its proposal and retries.

Stdlib only: the Python DataSource (``sources.pyds``) ships this module
by value to workers that cannot import the package.
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
    delete_files: list[dict] | None = None,
    prev_seqs: dict[str, int] | None = None,
) -> dict:
    """The manifest core of commit ``version`` proposed over ``head``.

    Data SEQUENCE numbers (Iceberg v2): a file keeps the seq of the
    commit that introduced it (looked up in ``prev_seqs``, by default the
    head's), a new file takes ``version``; equality deletes apply only to
    files with seq <= the delete's seq. ``delete_files`` defaults to the
    head's tombstones, so an append carries them."""
    seqs = head.get("file_seqs", {}) if prev_seqs is None else prev_seqs
    return {
        "version": version,
        "operation": operation,
        "timestamp": time.time(),
        "files": files,
        "file_seqs": {f: seqs.get(f, version) for f in files},
        "delete_files": (
            head.get("delete_files", []) if delete_files is None else delete_files
        ),
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
