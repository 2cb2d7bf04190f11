"""Derived on-disk state: the one freshness policy for every copy of a
source table the engine writes beside its read-only fixtures.

Partitioned, bucketed, fragmented/compacted, evolved and CBO copies, the
MV partials and the staged stream sources all live under ONE per-process
scratch base (removed at interpreter exit) and are addressed by
:func:`derived_path`, whose directory name folds in the sf dir and a
content signature of the source tables the state was built from. The
path is the memo: a write to a source (an upsert swapped in at the same
path) changes its signature, so the builder finds no state at the new
path and rebuilds — no invalidation call exists, and none is needed.
Unchanged sources find their finished state where they left it; the
rebuild removes the copy of the superseded version.

Builders mark completion LAST — Spark's ``_SUCCESS``, a catalog entry,
or a hand-written marker — so a half-written directory is rebuilt, never
served. The basename is a valid catalog identifier, so catalog builders
use it as their table name.

:func:`scratch_path` serves per-call unique directories (stream drains,
sink outputs, demo rewrites) under the same base.

``io._TABLE_MEMO`` and the plan memo are deliberately NOT keyed this way:
their hit path serves every dashboard request, and a signature check per
hit would add file IO to it; they keep ``io.clear_table_cache()``.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid

_BASE: str | None = None


def _base() -> str:
    # mkdtemp is per-process-private (a fixed path in shared /tmp would let
    # concurrent runs race each other's writes); atexit bounds the leak to
    # crashed runs. Created lazily: Python workers import this module too.
    global _BASE
    if _BASE is None or not os.path.exists(_BASE):
        _BASE = tempfile.mkdtemp(prefix="derived_")
        atexit.register(shutil.rmtree, _BASE, ignore_errors=True)
    return _BASE


def _file_content_sig(path: str) -> str:
    """md5 of the parquet footer region (last <=64 KiB). The footer holds
    the row-group metadata + column statistics, so any regeneration with
    different contents changes it even at identical byte size; unlike
    mtime it survives git checkouts / copies, which do NOT preserve
    timestamps (an mtime signature forced a silent rebuild on every
    fresh clone)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(0, size - 65536))
        return hashlib.md5(f.read()).hexdigest()[:12]


def table_sig(path: str) -> tuple:
    """Content-derived change signature of a parquet table (file or
    directory): sorted (name, size, footer-hash). A source regenerated IN
    PLACE (an upsert rewrite; bench.py rewriting .bench_sf3x when
    SPARK_GRAFT_SFN_REP changes) changes it, while byte-identical data
    keeps its signature across clones/copies. A missing table signs as
    ``()``."""
    if os.path.isdir(path):
        names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return tuple(
            (f, os.path.getsize(os.path.join(path, f)),
             _file_content_sig(os.path.join(path, f)))
            for f in names
        )
    try:
        return (os.path.getsize(path), _file_content_sig(path))
    except OSError:
        return ()


def _md5_12(x) -> str:
    return hashlib.md5(repr(x).encode()).hexdigest()[:12]


def derived_path(sf_dir: str, kind: str, tables: tuple[str, ...], *extra) -> str:
    """Directory for ``kind`` state built from ``tables`` of ``sf_dir``
    (plus the build parameters in ``extra``). The name carries the sf
    basename for readability and two hashes: the SLOT (kind, absolute sf
    dir, table names, extra), so two sf dirs sharing a basename never
    share state, and the content signature of every named table, so a
    rewritten source gets a new path. The directory is not created.

    A miss (no directory at the returned path yet: the caller is about
    to build) removes the slot's copies of other source versions — one
    copy per slot survives a write, while copies with other build
    parameters (two MV cutoffs) are other slots and stay."""
    ap = os.path.abspath(sf_dir)
    slot = _md5_12((kind, ap, tables, extra))
    src = _md5_12(
        tuple(table_sig(os.path.join(ap, f"{t}.parquet")) for t in tables)
    )
    tag = "".join(c if c.isalnum() else "_" for c in os.path.basename(ap))
    prefix = f"{kind}_{tag}_{slot}_"
    path = os.path.join(_base(), prefix + src)
    if not os.path.exists(path):
        for old in os.listdir(_base()):
            if old.startswith(prefix):
                shutil.rmtree(os.path.join(_base(), old), ignore_errors=True)
    return path


def scratch_path(name: str) -> str:
    """A fresh, uniquely named path under the scratch base (not created):
    one per call, so a lazily read result is never overwritten by a later
    call."""
    return os.path.join(_base(), f"{name}_{uuid.uuid4().hex[:12]}")
