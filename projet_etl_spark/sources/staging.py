"""Fingerprint-keyed staged builds — the ONE protocol behind every
derived layout the engine materializes beside the warehouse (streaming
stores, JSONL/two-vintage copies, the z-ordered table).

Protocol: a staged root holds a ``_SOURCE`` marker carrying the source
file's fingerprint. A matching marker short-circuits to the staged
output (build is REFRESH cost, repeat queries reuse it); a missing or
stale marker wipes the root and rebuilds from scratch. The marker is
written only AFTER the build completes, so a crashed build can never
be mistaken for a finished one — the next call rebuilds.

Centralized here because the protocol used to be copy-pasted across
seven ensure_* functions and a fix to it (marker atomicity, recovery
ordering, locking) must land in exactly one place.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable


def parquet_fingerprint(sf_dir: str, filename: str) -> str:
    """Fingerprint of one source parquet — cheap, and the driver
    regenerates fixtures in place so mtime moves when content does.

    Regular file: ``size:mtime_ns``. Directory-shaped source (a
    ``{name}.parquet/`` of part files): the sorted relative
    names+sizes+mtimes of every file beneath it — rewriting a part
    file in place need not move the directory inode's own stat, so
    fingerprinting the dir stat alone would serve stale staged views
    (round-9 advisor item)."""
    path = os.path.join(sf_dir, filename)
    st = os.stat(path)
    if not os.path.isdir(path):
        return f"{st.st_size}:{st.st_mtime_ns}"
    parts = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            fs = os.stat(os.path.join(root, f))
            rel = os.path.relpath(os.path.join(root, f), path)
            parts.append(f"{rel}={fs.st_size}:{fs.st_mtime_ns}")
    return "dir[" + ",".join(sorted(parts)) + "]"


def staged_root(root_base: str, sf_dir: str) -> str:
    """The per-sf root under ``root_base``: named after ``sf_dir``'s
    basename, so two warehouses with one basename share it."""
    return os.path.join(root_base, os.path.basename(os.path.normpath(sf_dir)) or "root")


def ensure_staged(
    root_base: str,
    sf_dir: str,
    fp: str,
    out_subpath: str,
    build: Callable[[str], None],
    *,
    version: str,
) -> str:
    """Return the staged output under ``root_base/<sf-name>/
    <out_subpath>``, rebuilding via ``build(root)`` when the
    ``_SOURCE`` marker is missing or does not match ``version`` + ``fp``.

    ``build`` receives the wiped per-sf root and must create
    everything beneath it (including the output subpath); the marker
    is stamped only after it returns.

    ``version`` is the BUILDER's identity token (r10, advisor item):
    a name plus its load-bearing constants (e.g.
    ``"scored-v1:floor=0.5"``). The source fingerprint alone cannot
    see a code change — without the token, editing SWEEP_FLOOR,
    DF_CAP, tokens(), shingling or the CC logic would silently serve
    the PREVIOUS builder's bytes from an existing warehouse cache
    until the source data happened to move, surfacing only as a
    confusing oracle mismatch later. Folding the token into the
    marker makes builder changes invalidate the cache like data
    changes do; bump the version when the builder's logic changes in
    a way no folded constant captures.
    """
    root = staged_root(root_base, sf_dir)
    marker = os.path.join(root, "_SOURCE")
    out = os.path.join(root, out_subpath)
    stamp = f"{version}\n{fp}"
    try:
        with open(marker, encoding="utf-8") as f:
            if f.read() == stamp:
                return out
    except OSError:
        pass
    shutil.rmtree(root, ignore_errors=True)
    build(root)
    os.makedirs(root, exist_ok=True)  # empty-input builds write no files
    with open(marker, "w", encoding="utf-8") as f:
        f.write(stamp)
    return out
