"""Source detection and acquisition (reference parity: utils.py:21-46,
125-254 — SURVEY.md §2.1 S2-S4).

Remote CSVs are streamed to a driver-local temp file before the distributed
read (Spark has no https file source); globs expand driver-side to preserve
the reference's one-table-per-file semantics.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
import tempfile
import urllib.request

from apache_iceberg_spark.tables import scratch

#: Streaming download parameters (reference: utils.py:155-159).
CHUNK_BYTES = 8192
TIMEOUT_SECONDS = 60

REMOTE_PREFIXES = ("http://", "https://")
GLOB_CHARS = frozenset("*?[]")


def is_remote_url(path: str) -> bool:
    return path.lower().startswith(REMOTE_PREFIXES)


def is_glob_pattern(path: str) -> bool:
    return any(ch in GLOB_CHARS for ch in path)


def detect_source_type(source_path: str, glob_pattern: str = "") -> str:
    """Classify a source: 'remote' | 'glob' | 'file' | 'unknown'.

    Reference dispatch order (utils.py:192-216): URL first, then an
    existing directory combined with a pattern, then an existing file,
    then a path that is itself a glob; anything else is unknown.
    """
    if is_remote_url(source_path):
        return "remote"
    if os.path.isdir(source_path) and glob_pattern:
        return "glob"
    if os.path.isfile(source_path):
        return "file"
    if is_glob_pattern(source_path):
        return "glob"
    return "unknown"


def download_remote_csv(url: str, temp_dir: str | None = None) -> tuple[str, str]:
    """Stream a remote CSV to a local temp file in CHUNK_BYTES chunks.

    Returns (local_path, original_filename); the local name always gets a
    ``.csv`` suffix (reference: utils.py:145-146) so table naming works on
    extension-less URLs.
    """
    filename = os.path.basename(url.split("?", 1)[0]) or "download"
    if not filename.lower().endswith(".csv"):
        filename += ".csv"
    if temp_dir is None:
        temp_dir = scratch("ingest_loader_")
    os.makedirs(temp_dir, exist_ok=True)
    local_path = os.path.join(temp_dir, filename)
    with urllib.request.urlopen(url, timeout=TIMEOUT_SECONDS) as resp:
        with open(local_path, "wb") as out:
            shutil.copyfileobj(resp, out, length=CHUNK_BYTES)
    return local_path, filename


def expand_glob_pattern(directory: str, pattern: str) -> list[str]:
    """Sorted matching files (directories excluded) — utils.py:165-189."""
    if os.path.isdir(directory):
        full = os.path.join(directory, pattern)
    else:
        full = directory  # the path itself is the pattern
    return sorted(p for p in _glob.glob(full) if os.path.isfile(p))


def get_files_to_process(
    source_path: str, glob_pattern: str = "", temp_dir: str | None = None
) -> list[tuple[str, str]]:
    """Resolve a source to [(local_path, display_filename)] pairs.

    Remote sources are downloaded; globs expand to many files; a plain
    file passes through. Unknown sources yield [].
    """
    kind = detect_source_type(source_path, glob_pattern)
    if kind == "remote":
        return [download_remote_csv(source_path, temp_dir)]
    if kind == "glob":
        files = expand_glob_pattern(source_path, glob_pattern)
        return [(p, os.path.basename(p)) for p in files]
    if kind == "file":
        return [(source_path, os.path.basename(source_path))]
    return []


def cleanup_temp_files(paths: list[str]) -> None:
    """Remove downloaded temp files. Only paths under the system temp dir
    AND carrying our loader prefix are touched (the reference's version
    had an and/or precedence bug here — utils.py:266; SURVEY.md §2.10
    C13 — fixed by requiring both conditions)."""
    tmp_root = tempfile.gettempdir()
    for p in paths:
        try:
            if p.startswith(tmp_root) and "ingest_loader_" in p and os.path.isfile(p):
                os.remove(p)
        except OSError:
            pass
