"""Persisted artifacts: where they live, what they weigh, when they are stale.

Every artifact the engine writes (ANN indexes, compressed and re-laid-out
table copies, the SQL result cache, UCT snapshot files) lives under ONE root,
``ARTIFACT_ROOT`` — the checkout's ``spark-warehouse`` directory, anchored at
this file so that processes with different working directories (and the
DuckDB oracles, which read the persisted indexes) agree on it.

A persisted index is fresh iff its data directory exists AND its recorded
source fingerprint equals the fingerprint of the files it was built from
(:func:`file_fingerprint`: every file's relpath, size and mtime_ns). A
rewritten source changes the fingerprint, so the index is rebuilt instead of
silently served.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

ARTIFACT_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)
FINGERPRINT_FILE = "_source_fingerprint"


def du(path: str) -> int:
    """Bytes under ``path``: a file's size, or a directory tree's total."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def file_fingerprint(path: str) -> str:
    """md5 hex of every file's ``relpath:size:mtime_ns`` under directory
    ``path`` (walk order sorted), or of ``basename:size:mtime_ns`` for a
    single file; a missing path hashes the empty string."""
    parts: list[str] = []
    if os.path.isdir(path):
        for root, _, files in sorted(os.walk(path)):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def index_is_fresh(path: str, data: str, fingerprint: str) -> bool:
    """True iff ``path/data`` exists and ``path`` records ``fingerprint``."""
    if not os.path.isdir(os.path.join(path, data)):
        return False
    try:
        with open(os.path.join(path, FINGERPRINT_FILE)) as f:
            return f.read().strip() == fingerprint
    except OSError:
        return False


def ensure_index(path: str, data: str, fingerprint: str, build: Callable[[], None]) -> None:
    """Run ``build`` (which writes the index under ``path``) unless the
    index there is fresh, then record ``fingerprint`` beside it."""
    if not index_is_fresh(path, data, fingerprint):
        build()
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, FINGERPRINT_FILE), "w") as f:
            f.write(fingerprint)
