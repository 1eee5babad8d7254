"""The ONE marker-commit protocol for every exactly-once state store
in the package (DedupIngest, ImageDedupIngest).

Two-phase-commit discipline: data files land first (overwrite mode, so
an uncommitted replay rewrites identical output), then the JSON marker
commits the batch ATOMICALLY — written to a temp name in the same
directory, fsynced, os.rename()'d into place (atomic on POSIX). The
three rules every consumer must follow:

1. replay short-circuits require a PARSEABLE marker (`load_marker`
   returns None for absent OR torn files) — a crash-torn marker must
   read as uncommitted, or the replayed delivery is silently dropped;
2. log scans skip non-.json files (in-flight ``.tmp``) and torn JSON
   (`read_log`) instead of raising — one torn file must not wedge the
   stream;
3. markers are never mutated after the rename; supersession is a NEW
   marker plus best-effort deletion of the old (compaction pattern).

Centralized here after the same protocol grew three hand-rolled copies
(round-8 review finding) — a fourth copy is a bug farm, import this.
"""

from __future__ import annotations

import json
import os


def write_marker(path: str, payload: dict) -> None:
    """Atomically commit ``payload`` as the marker at ``path``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def load_marker(path: str) -> dict | None:
    """The committed marker, or None if absent OR torn."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def read_log(marker_dir: str) -> list[dict]:
    """Every committed marker in ``marker_dir``, unordered — callers
    sort by their own sequence key. Torn and in-flight files skipped."""
    out = []
    try:
        names = os.listdir(marker_dir)
    except OSError:
        return out
    for fn in names:
        if not fn.endswith(".json"):
            continue
        m = load_marker(os.path.join(marker_dir, fn))
        if m is not None:
            out.append(m)
    return out
