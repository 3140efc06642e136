"""Snapshot store on plain parquet: the Iceberg commit model, emulated.

Every Iceberg write commits a new immutable snapshot; reads resolve the
current (or an explicitly requested) snapshot via table metadata, and
``expire_snapshots`` garbage-collects old ones
(``bot_iceberg_loader.py:307`` relies on append-creates-a-snapshot;
SURVEY.md §1.1). With no runtime jar in this environment (README
"Iceberg runtime status"), ``catalog/ddl.py``'s real snapshot ops are
gated; this module provides the same *semantics* on a versioned
directory layout:

    <table>/
      _versions.json          # compacted commit-log BASE (JSON array)
      _versions.jsonl         # append-only SEGMENT: one entry per line
      _refs.json              # named refs: branches (movable) + tags,
                              #   plus the O(1) idempotency-key index
                              #   (keys: branch\\x00key -> version, with
                              #   keys_floor bounding the legacy walk)
      v1/  v2/  ...           # immutable parquet snapshot directories
      d2/  d3/  ...           # immutable append-delta directories

    The log is base + segment: a commit APPENDS one JSONL line — O(entry
    bytes) of I/O per commit — instead of rewriting the whole log
    (O(commits²) cumulative; SCALE_NOTES §ref-log). ``compact_log`` (and
    every expiry, which must rewrite anyway) folds the segment into the
    base and truncates it.

**One ref core.** Commits are globally sequenced in the log, and
``_refs.json`` holds named POINTERS into it — git's object-store/refs
split, Nessie's branches and tags (blog-zero-cost-data-lakehouse.md:
373-397). The same core serves this table log and the catalog-level
workspace log (``catalog/workspace.py``): refs I/O, the one ancestry
walk (``_ancestry``), ref resolution, the plan step (``_plan_commit``),
the idempotency-key lookup, ref protection and key hygiene for expiry,
and the in-lock commit step (``_commit_locked``: verify the head, verify
the branch pointer, append, move the pointer, index the key).

**The ``main`` rule.** ``main``'s head is the pinned pointer when
``_refs.json`` pins ``main``, and otherwise the log tail. Every data
commit goes through one body (``_commit_data``) that parents on the head
of the branch it commits to, so the pre-ref writers (``commit_snapshot``,
``commit_append``, and ``rollback_to``) are main-branch commits: they
parent on ``main``'s head and move ``main`` only when it is pinned. They
never pin it themselves, so a linear table stays expirable (pinning
protects main's whole ancestry). The ``*_ref`` writers and
``merge_into`` pin ``main`` on first use. The readers that default to
"latest" (``read_snapshot_dirs``, ``read_incremental``, ``read_pruned``)
read ``main``'s head, so an unmerged branch commit at the log tail is
never visible to them.

**One file-set payload.** Every table entry, and every per-table value
in a workspace entry's ``tables``, states its file set in exactly one
of two keys:

- ``"set": [item, ...]`` — a restatement: the snapshot's file set is
  exactly these items (overwrites, rollbacks, materialized entries);
- ``"adds": [item, ...]`` — a delta over ``parent``: the parent's
  resolved set plus these items. O(1) metadata bytes per append, which
  is also how Iceberg itself stores appends (a manifest list points at
  mostly-shared manifests).

An item is ``[path, v]`` or ``[path, v, stats]``: ``v`` is the commit
version that wrote the dir into this lineage (its sequence number for
delete ordering) and ``stats`` is that dir's own ``{col: [min, max]}``,
the input of ``read_pruned``'s file skipping. Stats ride per item,
never per entry, so a restatement that inherits dirs can never claim
one dir's range for another (ADVICE r14).

Either key may come with ``dels``: MERGE-ON-READ equality-delete
records ``{"path", "on", "v"[, "stats"]}`` that remove matching rows
from data items with a STRICTLY EARLIER ``v``; the same commit's insert
delta is exempt by ordering. This is the Iceberg v2 row-level-delete
write path: O(batch) bytes per MERGE, readers pay one anti-join per
outstanding delete file (``_read_mor``), ``compact_mor`` folds the
debt back. Delete ``stats`` are the key columns' ranges.

One walker, ``_resolve``, turns a version into ``(data, dels)``: it
follows ``_ancestry`` and collects payloads down to the nearest ``set``,
parent first. Older logs wrote other shapes (``path``, cumulative
``paths``, ``pathsv`` triples, bare-path ``adds`` with entry-level
``stats``, ``dels`` without ``v``, bare-path workspace payloads);
``_canonical`` upgrades each entry as it is parsed, so nothing past the
parser sees them, and ``compact_log`` or an expiry rewrites the log in
the one payload. Code older than this payload cannot read such a log.

Entries record ``parent``, the head of their branch at plan time.
Entries without one (older logs) take the previous version present in
the log as their implicit parent, and ``root`` marks an explicit chain
end. Entries may also carry ``partition_by`` (the layout the data dirs
were written with; ``null`` = unpartitioned). Appends validate it
against the parent's recorded layout and raise on mismatch AT COMMIT
TIME.

Every commit ends with a compare-and-swap under an ``O_EXCL`` lock file:
the committer plans against the head it read, re-verifies it (and the
branch pointer) inside the lock, and raises ``CommitConflict`` if
another writer moved either — real Iceberg's catalog CAS,
emulation-grade. A lost race is LOUD, never a silently vanished commit.

Readers of version N are never affected by later commits or expiry of
other versions — the snapshot-isolation property m5 demonstrates.
``read_incremental`` resolves the file sets of two snapshots and plans a
scan over their DIFFERENCE: the Iceberg incremental append scan, planned
from metadata only (m11).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

_LOG = "_versions.json"
_SEG = "_versions.jsonl"

#: Auto-compaction threshold (VERDICT r11 ask #1): after a commit append,
#: fold the segment into the base when the segment has grown to at least
#: this many bytes AND at least a quarter of the base — the geometric
#: policy makes total rewrite bytes O(total log) over any history
#: (amortized O(1) per commit; the classic doubling argument), while the
#: floor keeps short-lived test tables on the pure-append path. ``None``
#: disables auto-compaction (probes that isolate the append path).
AUTO_COMPACT_MIN_SEGMENT_BYTES: int | None = 256 * 1024


class CommitConflict(RuntimeError):
    """Another writer advanced the table head between this commit's plan
    and its log swap — the emulation's analog of a failed Iceberg catalog
    compare-and-swap. The commit was NOT applied; the caller re-reads the
    table state and retries (or surfaces the conflict)."""


class _LogState:
    """One table's parsed commit log, incrementally maintained (VERDICT
    r11 ask #1): keyed by the BASE file's stat signature plus the byte
    offset of the first unparsed SEGMENT byte, so an uncontended commit
    parses only the segment lines appended since the last read — O(new
    bytes) CPU per access instead of the O(commits) full JSON parse that
    put per-commit CPU back on the path the segment append took off.
    All fields are touched only under ``_CACHE_LOCK``."""

    __slots__ = ("base_sig", "seg_off", "log", "by_v")

    def __init__(self) -> None:
        self.base_sig: tuple | None = None
        self.seg_off = 0
        self.log: list[dict] = []
        self.by_v: dict[int, dict] = {}


#: One PROCESS-WIDE lock guards the cache dict and every state access.
#: Deliberate simplicity over per-path locks: a guarded section is two
#: stats + a few-line JSON parse (~1-10 µs), while the same-table
#: writers it could serialize are already serialized by the per-table
#: COMMIT file lock and dominated by their fsync (~600 µs) — measured
#: cross-table interference is ~1% worst case, and a single lock keeps
#: the eviction/extension invariants trivially deadlock-free.
_CACHE_LOCK = threading.RLock()
_LOG_CACHE: OrderedDict[str, _LogState] = OrderedDict()
_LOG_CACHE_MAX = 64


def _stat_sig(path: str) -> tuple | None:
    """(inode, mtime_ns, size) — the base file's identity for cache
    validation. ``_write_log`` rewrites via a NEW temp file + rename, so
    any compaction/expiry changes the inode."""
    try:
        s = os.stat(path)
        return (s.st_ino, s.st_mtime_ns, s.st_size)
    except OSError:
        return None


def _parse_seg_chunk(data: bytes) -> tuple[int, list[dict]]:
    """Parse segment bytes into entries; returns (consumed_bytes,
    entries). Only NEWLINE-TERMINATED lines are consumed: a trailing
    fragment with no newline is a writer mid-append (or died mid-append)
    — an entry that never committed — and is left unconsumed so a later
    read re-examines it. A newline-terminated line that fails to parse
    is CORRUPTION and raises (ADVICE r11: the old tail backscan
    ``continue``d past such lines and could validate a CAS against a
    stale head; the single parser now fails loudly on every path)."""
    end = data.rfind(b"\n") + 1
    entries: list[dict] = []
    for line in data[:end].split(b"\n"):
        if line.strip():
            entries.append(json.loads(line))
    return end, entries


def _canonical(entry: dict) -> dict:
    """The one parse-time upgrade, and the only reader of the legacy
    payload keys: ``entry`` (table or workspace) with every file-set
    payload in the one shape — exactly one of ``set``/``adds``, items
    ``[path, v(, stats)]``, ``dels`` records carrying ``v``. Idempotent;
    a canonical table entry comes back as is. Each legacy shape keeps
    the plan the per-shape walkers gave it: ``path``, ``paths`` and
    bare-path ``adds`` become items at the entry's version carrying the
    entry-level ``stats``; ``pathsv`` items pass through unchanged; bare
    workspace paths become items at the entry's version; a ``dels``
    record without ``v`` takes the entry's version."""
    v = entry["version"]

    def payload(p: dict) -> dict:
        kind = "set" if "set" in p else "adds"
        if (
            not {"path", "paths", "pathsv", "stats"} & p.keys()
            and all(type(x) is list for x in p.get(kind, ()))
            and all("v" in d for d in p.get("dels", ()))
        ):
            return p
        tail = [v, p["stats"]] if p.get("stats") else [v]
        if "pathsv" in p:
            kind, items = "set", p["pathsv"]
        elif "paths" in p:
            kind, items = "set", [[x, *tail] for x in p["paths"]]
        elif "path" in p:
            kind, items = "set", [[p["path"], *tail]]
        else:
            items = [
                x if type(x) is list else [x, *tail] for x in p.get(kind, ())
            ]
        out = {
            k: x for k, x in p.items()
            if k not in ("path", "paths", "pathsv", "stats", "set", "adds")
        }
        out[kind] = items
        if "dels" in p:
            out["dels"] = [d if "v" in d else {**d, "v": v} for d in p["dels"]]
        return out

    if "tables" not in entry:
        return payload(entry)
    return {**entry, "tables": {n: payload(p) for n, p in entry["tables"].items()}}


def _full_state(table_path: str) -> _LogState:
    """Cold parse: base array + consumed segment prefix. Segment entries
    whose version the base already holds are SKIPPED: a compaction that
    crashed between the base rename and the segment truncate leaves its
    folded entries in both places, and the base's copy (possibly
    materialized by expiry) is the authoritative one."""
    st = _LogState()
    st.base_sig = _stat_sig(os.path.join(table_path, _LOG))
    try:
        with open(os.path.join(table_path, _LOG)) as f:
            base = json.load(f)
    except FileNotFoundError:
        base = []
    st.log = [_canonical(e) for e in base]
    st.by_v = {e["version"]: e for e in st.log}
    try:
        with open(os.path.join(table_path, _SEG), "rb") as f:
            data = f.read()
    except FileNotFoundError:
        return st
    st.seg_off, entries = _parse_seg_chunk(data)
    for e in entries:
        if e["version"] not in st.by_v:
            st.log.append(_canonical(e))
            st.by_v[e["version"]] = st.log[-1]
    return st


def _refresh_state(table_path: str) -> _LogState:
    """Validated cache read — MUST be called with ``_CACHE_LOCK`` held.
    Cache hit (base signature unchanged, segment not truncated below the
    consumed offset): parse only the appended segment bytes. Any base
    rewrite (compaction, expiry — new inode via the temp-file rename) or
    out-of-protocol segment truncation forces a full re-read, so a
    cross-process writer can never leave this process serving a stale
    head: every validation is two ``stat`` calls against the files the
    other process must have changed."""
    st = _LOG_CACHE.get(table_path)
    base_sig = _stat_sig(os.path.join(table_path, _LOG))
    seg = os.path.join(table_path, _SEG)
    if st is not None and st.base_sig == base_sig:
        try:
            size = os.path.getsize(seg)
        except OSError:
            size = 0
        if size >= st.seg_off:
            if size > st.seg_off:
                with open(seg, "rb") as f:
                    f.seek(st.seg_off)
                    data = f.read()
                consumed, entries = _parse_seg_chunk(data)
                for e in entries:
                    if e["version"] not in st.by_v:
                        st.log.append(_canonical(e))
                        st.by_v[e["version"]] = st.log[-1]
                st.seg_off += consumed
            _LOG_CACHE.move_to_end(table_path)
            return st
        # size < seg_off: the segment shrank without a base rewrite —
        # out-of-protocol (tests, manual surgery); fall through
    st = _full_state(table_path)
    _LOG_CACHE[table_path] = st
    _LOG_CACHE.move_to_end(table_path)
    while len(_LOG_CACHE) > _LOG_CACHE_MAX:
        _LOG_CACHE.popitem(last=False)
    return st


@contextlib.contextmanager
def _locked_state(table_path: str):
    """The validated ``_LogState`` under the cache lock — the hot-path
    accessor: commit planning reads head/parent/ancestry through this in
    O(steps) without copying the log. Keep the body short and metadata-
    only (no Spark calls); the yielded state is shared and must never be
    mutated by the caller."""
    with _CACHE_LOCK:
        yield _refresh_state(table_path)


def _read_log(table_path: str) -> list[dict]:
    """The full commit log, oldest first. Served from the incremental
    cache (O(appended bytes) amortized; full parse only on cold start or
    after an external compaction) and returned as a fresh list so
    callers can hold it across later commits. Entry dicts are shared
    with the cache: treat them as immutable. Torn-tail semantics: a torn
    FINAL segment line (a writer died mid-append) is an entry that never
    committed and is ignored; a torn NON-final line is corruption and
    raises (see ``_parse_seg_chunk``)."""
    with _CACHE_LOCK:
        return _refresh_state(table_path).log[:]


def _read_tail(table_path: str) -> dict | None:
    """The log's LAST entry in O(appended bytes): the commit point only
    needs the head version for its CAS. Round 12 replaced the fixed-
    chunk tail backscan with the incremental cache — an oversized entry
    (a rollback restating many tables can exceed any fixed chunk) now
    costs one incremental parse of itself, never a silent full-log
    degrade, and corrupt non-final lines raise instead of being skipped
    (ADVICE r11)."""
    with _CACHE_LOCK:
        st = _refresh_state(table_path)
        return st.log[-1] if st.log else None


def _append_entry(table_path: str, entry: dict) -> None:
    """O(1)-bytes commit append: one JSONL line, flushed + fsynced. The
    caller holds the commit lock. ``json.dumps`` never emits raw
    newlines, so one line is one entry by construction. If a previous
    writer died mid-append (torn tail with no newline), the torn bytes
    are an uncommitted entry — they are TRUNCATED first (we hold the
    lock), so the new entry never welds onto them and ``_read_log``'s
    torn-tail rule stays 'final line only'. The truncation path reads
    the file once but only runs after a crash — the normal append
    checks a single byte."""
    path = os.path.join(table_path, _SEG)
    with open(path, "ab") as f:
        if f.tell() > 0:
            with open(path, "rb") as r:
                r.seek(-1, os.SEEK_END)
                torn = r.read(1) != b"\n"
            if torn:
                with open(path, "rb") as r:
                    data = r.read()
                f.truncate(data.rfind(b"\n") + 1)
                f.seek(0, os.SEEK_END)
        f.write((json.dumps(entry) + "\n").encode())
        f.flush()
        os.fsync(f.fileno())
        seg_size = f.tell()
    # Auto-compaction (VERDICT r11 ask #1): fold the segment into the
    # base when it reaches a quarter of the base's size (with a floor) —
    # geometric growth bounds total rewrite bytes at ~5x the final log
    # (amortized O(1) per commit), and the next cold-start parse never
    # reads a segment longer than base/4. Runs under the caller's commit
    # lock; the heartbeat below keeps a long fold from being classified
    # stale by waiting writers.
    if AUTO_COMPACT_MIN_SEGMENT_BYTES is not None:
        try:
            base_size = os.path.getsize(os.path.join(table_path, _LOG))
        except OSError:
            base_size = 0
        if seg_size >= max(AUTO_COMPACT_MIN_SEGMENT_BYTES, base_size // 4):
            _touch_lock(table_path)
            _write_log(table_path, _read_log(table_path))


def _touch_lock(table_path: str) -> None:
    """Heartbeat: refresh the commit-lock file's mtime so a LIVE holder
    running a long section (compaction folding a large segment, an
    expiry rewrite) is never classified stale by a waiter's age check
    (ADVICE r11). No-op when no lock file exists (single-writer test
    paths that call maintenance without the lock)."""
    try:
        os.utime(os.path.join(table_path, _LOG + ".lock"))
    except OSError:
        pass


def _write_log(table_path: str, log: list[dict]) -> None:
    """Full rewrite = compaction: the entire log becomes the base and
    the segment is truncated. Crash window: if the process dies between
    the base rename and the truncate, segment entries the base already
    folded reappear — ``_read_log`` dedupes them by version, and
    entries EXPIRED by the rewrite resurrect only until the next expiry
    (idempotent; their data dirs are already gone, and nothing walks
    into them because retained entries were materialized with a root
    terminator)."""
    tmp = os.path.join(table_path, _LOG + ".tmp")
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, os.path.join(table_path, _LOG))  # atomic commit swap
    seg = os.path.join(table_path, _SEG)
    if os.path.exists(seg):
        with open(seg, "w"):
            pass  # truncate: everything above is now in the base
    # Install the rewritten state directly: the writer already holds the
    # parsed log, so the post-compaction read costs no re-parse.
    with _CACHE_LOCK:
        st = _LogState()
        st.base_sig = _stat_sig(os.path.join(table_path, _LOG))
        st.log = list(log)
        st.by_v = {e["version"]: e for e in st.log}
        _LOG_CACHE[table_path] = st
        _LOG_CACHE.move_to_end(table_path)


def compact_log(table_path: str) -> int:
    """Fold the append segment into the base array (under the commit
    lock) — the periodic maintenance a long-lived never-expiring table
    runs so ``_read_log``'s segment parse stays short. Returns the
    number of entries folded. Expiry compacts implicitly (it must
    rewrite the log anyway)."""
    with _log_lock(table_path):
        seg = os.path.join(table_path, _SEG)
        folded = 0
        if os.path.exists(seg) and os.path.getsize(seg) > 0:
            log = _read_log(table_path)
            try:
                with open(os.path.join(table_path, _LOG)) as f:
                    folded = len(log) - len(json.load(f))
            except FileNotFoundError:
                folded = len(log)
            _touch_lock(table_path)  # heartbeat before the long rewrite
            _write_log(table_path, log)
        return folded


class _log_lock:
    """``O_EXCL`` lock file serializing log read-modify-write sections.
    Held only around the metadata swap (never around data writes), so
    contention is bounded by JSON I/O, not by Spark jobs.

    Stale-lock recovery (ADVICE r10): the holder writes its pid +
    timestamp into the lock file; a waiter finding the file older than
    ``stale_s`` (far beyond any legitimate metadata-swap hold) BREAKS it
    by atomically renaming it aside — the rename arbitrates racing
    breakers, so exactly one wins and a died-mid-swap writer no longer
    bricks the table forever."""

    def __init__(
        self, table_path: str, timeout_s: float = 10.0,
        stale_s: float = 60.0,
    ):
        self._path = os.path.join(table_path, _LOG + ".lock")
        self._timeout_s = timeout_s
        self._stale_s = stale_s
        self._fd: int | None = None

    def _lock_meta(self) -> tuple | None:
        """(mtime, token) of the current lock file; None if gone/torn."""
        try:
            mt = os.path.getmtime(self._path)
            with open(self._path) as f:
                tok = json.load(f).get("token")
            return (mt, tok)
        except (OSError, ValueError):
            return None

    def _break_stale(self) -> None:
        import uuid

        seen = self._lock_meta()
        if seen is None:
            return  # holder released it already
        if time.time() - seen[0] <= self._stale_s:
            return
        # TOCTOU guard (ADVICE r11): between the age check and the
        # rename, the stale holder can release and a NEW writer acquire —
        # renaming that fresh lock aside would put two writers in the
        # critical section. Re-read and break only an UNCHANGED lock;
        # long-held sections heartbeat (``_touch_lock``/``heartbeat``)
        # so a live holder never looks stale in-protocol.
        if self._lock_meta() != seen:
            return
        aside = f"{self._path}.stale-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(self._path, aside)  # atomic: one breaker wins
        except OSError:
            return  # lost the break race (or holder released)
        # Post-rename audit: if the renamed file is NOT the lock the age
        # check saw (release + re-acquire raced into the remaining
        # window), restore it — os.link refuses to clobber, so a third
        # acquirer that slipped in keeps its lock and we only drop ours.
        try:
            with open(aside) as f:
                renamed_tok = json.load(f).get("token")
        except (OSError, ValueError):
            renamed_tok = None
        if renamed_tok != seen[1]:
            try:
                os.link(aside, self._path)
            except OSError:
                pass  # someone already re-acquired; nothing safe to do
        os.remove(aside)

    def heartbeat(self) -> None:
        """Refresh the lock mtime — call from long-held sections so a
        live holder is never classified stale (ADVICE r11)."""
        try:
            os.utime(self._path)
        except OSError:
            pass

    def __enter__(self):
        deadline = time.monotonic() + self._timeout_s
        while True:
            try:
                self._fd = os.open(
                    self._path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                import uuid

                self._token = uuid.uuid4().hex
                os.write(
                    self._fd,
                    json.dumps(
                        {
                            "pid": os.getpid(),
                            "ts": time.time(),
                            "token": self._token,
                        }
                    ).encode(),
                )
                return self
            except FileExistsError:
                self._break_stale()
                if time.monotonic() >= deadline:
                    raise CommitConflict(
                        f"commit lock at {self._path} held past "
                        f"{self._timeout_s}s; a writer died mid-swap or "
                        "the table is under heavy concurrent commit load"
                    ) from None
                time.sleep(0.01)

    def __exit__(self, *exc):
        if self._fd is not None:
            os.close(self._fd)
        # Remove only OUR lock file: if a waiter (wrongly) broke this
        # lock while we still held it — a hold longer than stale_s,
        # which no metadata swap should ever reach — the path may now
        # be the breaker's NEW lock, and blindly unlinking it would
        # cascade the corruption. The per-acquire token we wrote is the
        # ownership check (pid alone collides across threads).
        try:
            with open(self._path) as f:
                owner = json.load(f).get("token")
        except (OSError, ValueError):
            owner = None
        if owner == getattr(self, "_token", None):
            try:
                os.remove(self._path)
            except FileNotFoundError:
                pass
        return False


# ---------------------------------------------------------------------------
# The ref core — shared by this table log and the workspace log
# (``catalog/workspace.py`` imports it; every function takes the log's
# directory). ``_refs.json`` holds named pointers into the log: branches
# move, tags never do, and creating or deleting either is metadata-only
# — never a data byte read or copied, which is why Nessie calls them
# zero-cost. A commit is: plan on the branch head (``_plan_commit``),
# then the in-lock step (``_commit_locked``) under ``_log_lock``.

_REFS = "_refs.json"
_UNSET = object()
_MISSING = object()  # "branch absent from refs" — distinct from any version


def _read_refs(table_path: str) -> dict:
    try:
        with open(os.path.join(table_path, _REFS)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"branches": {}, "tags": {}}


def _write_refs(table_path: str, refs: dict) -> None:
    tmp = os.path.join(table_path, _REFS + ".tmp")
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, os.path.join(table_path, _REFS))


def _update_refs(table_path: str, mutate) -> dict:
    """Atomic read-modify-write of ``_refs.json`` under the commit lock:
    re-reading refs inside the lock applies the mutation to the freshest
    state, so two writers can never revert each other's pointer moves."""
    with _log_lock(table_path):
        refs = _read_refs(table_path)
        mutate(refs)
        _write_refs(table_path, refs)
    return refs


def _ancestry(by_v: dict[int, dict], head: int | None):
    """The one ancestry walk: yields ``head`` and every ancestor
    reachable from it, nearest first, LAZILY — callers that stop at the
    first match (a table's first touch, a ref-protection walk reaching
    an already-protected version) pay O(steps), not O(history).

    One step: an entry's recorded ``parent``; for entries without one
    (older logs), the previous version present in the log — the same
    rule for merge ancestry, the idempotency walk and ref protection, so
    a mixed keyed/linear history walks the SAME chain in all three
    (ADVICE r9). ``root`` entries (expiry materialized them after
    pruning their ancestor) are EXPLICIT chain ends: the implicit rule
    there would walk into an unrelated branch (ADVICE r10). The walk
    stops (rather than raising) at a parent pruned from the log — such a
    chain was cut by expiry, and everything a live ref reaches is
    expiry-protected. Implicit steps share one lazily-built sorted
    version list + bisect, so a 10k-commit legacy walk is O(n log n)."""
    import bisect

    sorted_vs: list[int] | None = None
    v = head
    while v is not None and v in by_v:
        yield v
        entry = by_v[v]
        if entry.get("root"):
            return
        if "parent" in entry:
            v = entry["parent"]
            continue
        if sorted_vs is None:
            sorted_vs = sorted(by_v)
        i = bisect.bisect_left(sorted_vs, v)
        v = sorted_vs[i - 1] if i > 0 else None


def _resolve_ref(table_path: str, ref: str) -> int:
    """Ref name -> version number. The ``main`` rule: ``main`` is its
    pinned pointer when ``_refs.json`` pins it, and otherwise the log
    tail (a log only ever written by the pre-ref writers is all-main)."""
    refs = _read_refs(table_path)
    if ref in refs["branches"]:
        return refs["branches"][ref]
    if ref in refs["tags"]:
        return refs["tags"][ref]
    if ref == "main":
        tail = _read_tail(table_path)
        if tail is None:
            raise ValueError(f"no snapshots at {table_path}")
        return tail["version"]
    raise ValueError(f"unknown ref {ref!r} at {table_path}")


def _ensure_main(table_path: str, refs: dict) -> dict:
    """Pin ``main`` in ``refs`` (in memory) at its current head — the
    log tail, by the ``main`` rule — so a ref operation that writes
    refs back also fixes main where readers already saw it."""
    if "main" not in refs["branches"]:
        tail = _read_tail(table_path)
        if tail is None:
            raise ValueError(f"no snapshots at {table_path}")
        refs["branches"]["main"] = tail["version"]
    return refs


def _create_ref(table_path: str, kind: str, name: str, version: int) -> int:
    """Point a new branch or tag (``kind``) at ``version``, pinning
    ``main`` alongside; names are unique across branches and tags."""

    def mutate(refs: dict) -> None:
        _ensure_main(table_path, refs)
        if name in refs["branches"] or name in refs["tags"]:
            raise ValueError(f"ref {name!r} already exists")
        refs[kind][name] = version

    _update_refs(table_path, mutate)
    return version


def _plan_commit(table_path: str, branch: str):
    """The plan step every commit on ``branch`` shares: returns
    ``(refs, parent_v, parent_entry, head)`` — the branch head the
    commit parents on (``main`` by the ``main`` rule: its pinned pointer,
    else the log tail; ``None`` on an empty log) and the log tail the
    CAS verifies. Rejects tags and unknown branches."""
    refs = _read_refs(table_path)
    if branch in refs["tags"]:
        raise ValueError(f"cannot commit to tag {branch!r}")
    if branch != "main" and branch not in refs["branches"]:
        raise ValueError(f"unknown branch {branch!r}")
    with _locked_state(table_path) as st:
        head = st.log[-1]["version"] if st.log else None
        parent_v = refs["branches"].get(branch, head)
        return refs, parent_v, st.by_v.get(parent_v), head


def _find_idempotent(
    table_path: str,
    refs: dict,
    branch: str,
    parent_v: int | None,
    key: str,
) -> int | None:
    """O(1) idempotency-key lookup (VERDICT r10 ask #4): the commit
    critical section indexes ``branch\\x00key → version`` in
    ``_refs.json``, so the common retry check is one dict probe instead
    of an O(branch-length) chain walk — which at streaming cadence was
    O(n²) over a stream's lifetime. A fully-indexed MISS (floor 0)
    returns without touching the log state at all. A map HIT is verified
    against the branch's ancestry (rare path; guards a deleted-and-
    recreated branch whose stale keys linger). The chain walk survives
    only as the legacy fallback for history below ``keys_floor`` —
    commits indexed before the map existed."""
    if parent_v is None:
        return None
    hit = refs.get("keys", {}).get(f"{branch}\x00{key}")
    floor = refs.get("keys_floor")
    if hit is None and floor is not None and floor <= 0:
        return None  # fully indexed history: the miss is authoritative
    with _locked_state(table_path) as st:
        ancestry = list(_ancestry(st.by_v, parent_v))
        if hit is not None and hit in ancestry:
            return hit
        if floor is not None and floor <= 0:
            return None
        for v in ancestry:
            if floor is not None and v > floor:
                continue  # indexed range — the map already said no
            if st.by_v[v].get("idempotency_key") == key:
                return v
    return None


def _prune_keys(refs: dict, keys_max: int | None) -> None:
    """Bound the idempotency-key index to the ``keys_max`` NEWEST keyed
    commits (by version) — the knob that keeps ``_refs.json`` O(1) for
    an unexpiring keyed stream, whose index otherwise grows O(commits)
    because the index IS the idempotency window. The window semantics
    are explicit: a replay bearing a key pruned from the window
    RE-COMMITS — identical to the expiry-pruning caveat — so callers
    pick ``keys_max`` beyond any possible replay distance (Spark's
    foreachBatch replays only the most recent uncommitted batch id, so
    even a few dozen is generous). Eviction is by version GLOBALLY
    across branches: two keyed streams sharing one log should size
    ``keys_max`` for their COMBINED cadence. Caller holds the commit
    lock."""
    if keys_max is not None and len(refs.get("keys", {})) > keys_max:
        newest = sorted(refs["keys"].items(), key=lambda kv: kv[1])
        refs["keys"] = dict(newest[-keys_max:])


def _commit_locked(
    table_path: str,
    entry: dict,
    expected_head: int | None,
    move_branch: str | None = None,
    expected_branch_v=_UNSET,
    keys_max: int | None = None,
) -> None:
    """The in-lock commit step — the caller HOLDS ``_log_lock`` (it is
    an ``O_EXCL`` file lock and not re-entrant, so callers that plan
    under the lock call this directly; everyone else goes through
    ``_append_commit``). Verify the head the committer planned against
    is STILL the head, verify the branch pointer, APPEND one segment
    line (O(entry bytes), never a whole-log rewrite), move the pointer,
    index the idempotency key. On a lost race raises ``CommitConflict``
    (the entry's already-written data directory becomes torn-commit
    debris that orphan cleanup reclaims, exactly like a died-mid-commit
    Iceberg writer).

    ``move_branch``: advance that branch pointer to the new version
    against a freshly re-read ``_refs.json`` (writing refs from a
    plan-time snapshot let two winners on different branches revert each
    other's pointer advance).

    ``expected_branch_v``: the branch-pointer value the commit was
    PLANNED against. A pointer can move without a log append (a branch
    deleted and recreated elsewhere, a fast-forward merge), which the
    head CAS alone cannot see — re-verifying it here closes that
    lost-update window (ADVICE r10). A keyed commit also indexes
    ``idempotency_key`` → version in ``_refs.json`` here, making the
    streaming retry check O(1) (VERDICT r10 ask #4)."""
    tail = _read_tail(table_path)
    head = tail["version"] if tail else None
    if head != expected_head:
        raise CommitConflict(
            f"log at {table_path} head moved {expected_head} -> {head} "
            f"during commit of v{entry['version']}; re-read and retry"
        )
    if move_branch is not None:
        refs = _read_refs(table_path)
        cur = refs["branches"].get(move_branch, _MISSING)
        if cur is _MISSING and move_branch != "main":
            # A branch DELETED between plan and commit conflicts rather
            # than being silently re-created (ADVICE r11). Missing
            # ``main`` is the unpinned case (main is undeletable), so
            # only named branches — pinned at plan time — hit this.
            raise CommitConflict(
                f"branch {move_branch!r} at {table_path} was deleted "
                f"during commit of v{entry['version']}; re-read and "
                "retry"
            )
        if (
            expected_branch_v is not _UNSET
            and cur is not _MISSING
            and cur != expected_branch_v
        ):
            raise CommitConflict(
                f"branch {move_branch!r} at {table_path} moved "
                f"{expected_branch_v} -> {cur} during commit "
                f"of v{entry['version']}; re-read and retry"
            )
    _append_entry(table_path, entry)
    if move_branch is None:
        return
    refs["branches"][move_branch] = entry["version"]
    key = entry.get("idempotency_key")
    if key is not None:
        if "keys_floor" not in refs:
            # Index creation: one O(log) scan decides whether ANY
            # pre-index commit carries an unindexed key. If none does
            # (the common case — a log keyed from its first streaming
            # batch), floor is 0 and every later miss check is a pure
            # O(1) dict probe; only a genuinely legacy keyed history
            # keeps the bounded chain-walk fallback. Runs ONCE per log.
            legacy_keyed = any(
                "idempotency_key" in e and e["version"] != entry["version"]
                for e in _read_log(table_path)
            )
            refs["keys_floor"] = (
                head if legacy_keyed and head is not None else 0
            )
        refs.setdefault("keys", {})[f"{move_branch}\x00{key}"] = entry[
            "version"
        ]
        _prune_keys(refs, keys_max)
    _write_refs(table_path, refs)


def _append_commit(
    table_path: str,
    entry: dict,
    expected_head: int | None,
    move_branch: str | None = None,
    expected_branch_v=_UNSET,
    keys_max: int | None = None,
) -> None:
    """The commit point: ``_commit_locked`` under the commit lock."""
    with _log_lock(table_path):
        _commit_locked(
            table_path, entry, expected_head, move_branch,
            expected_branch_v, keys_max,
        )


def _ref_protected_versions(
    table_path: str, log: list[dict], heads_only: bool = False
) -> set[int]:
    """Every version reachable from any ref in ``_refs.json`` — all tag
    pins and branch heads plus their full parent ancestry. These are
    EXEMPT from expiry and orphan cleanup (VERDICT r9 ask #1): a tag's
    contract is 'addressable by name forever until explicitly deleted',
    and a branch must stay mergeable, which needs its ancestry walk
    intact. Real Iceberg/Nessie protect ref-reachable snapshots the
    same way; deleting the ref is what frees its history.

    ``heads_only``: protect just the pins and branch heads, NOT their
    ancestry — the STREAMING retention mode. A linear main history is
    entirely reachable from its own head, so full-ancestry protection
    makes a one-commit-per-micro-batch log untruncatable; heads-only
    expiry cuts history older than the ts cutoff while materialization
    keeps every retained entry readable (Nessie's cutoff-policy GC). The
    cost, same as Nessie's: merges whose base predates the retention
    window raise 'no common ancestor'."""
    refs = _read_refs(table_path)
    heads = set(refs["branches"].values()) | set(refs["tags"].values())
    if heads_only:
        return heads
    by_v = _by_version(log)
    protected: set[int] = set()
    for h in heads:
        for v in _ancestry(by_v, h):
            if v in protected:
                break  # ancestry below is already walked
            protected.add(v)
    return protected


def _expirable(
    table_path: str,
    log: list[dict],
    older_than_ms: int,
    keep_last: int,
    heads_only: bool,
) -> list[dict]:
    """The entries an expiry removes: committed before ``older_than_ms``
    and neither among the ``keep_last`` newest nor ref-protected."""
    if len(log) <= keep_last:
        return []
    protected = {e["version"] for e in log[-keep_last:]}
    protected |= _ref_protected_versions(table_path, log, heads_only)
    return [
        e
        for e in log[:-keep_last]
        if e["ts_ms"] < older_than_ms and e["version"] not in protected
    ]


def _drop_expired_keys(table_path: str, keep: list[dict]) -> None:
    """Expiry hygiene: drop indexed idempotency keys whose version was
    expired — a later retry bearing such a key re-commits (its
    idempotency window has passed). Caller holds the commit lock."""
    refs = _read_refs(table_path)
    if refs.get("keys"):
        kept_vs = {e["version"] for e in keep}
        pruned = {k: v for k, v in refs["keys"].items() if v in kept_vs}
        if len(pruned) != len(refs["keys"]):
            refs["keys"] = pruned
            _write_refs(table_path, refs)


def _data_dir(table_path: str, kind: str, version: int) -> str:
    """A UNIQUE directory for one commit attempt's data: ``v``/``d`` +
    version + a random token. Two racing committers compute the same
    version number, and with deterministic names the CAS loser's data
    write would clobber the winner's already-committed directory before
    the conflict is even detected — real Iceberg writes UUID-named data
    files for precisely this reason. The loser's uniquely-named dir
    becomes orphan debris that ``remove_orphan_dirs`` reclaims."""
    import uuid

    return os.path.join(
        table_path, f"{kind}{version}-{uuid.uuid4().hex[:8]}"
    )


# ---------------------------------------------------------------------------
# The file-set core — one payload (``set`` | ``adds``, optional ``dels``;
# see the module docstring), one walker, and the operations on file sets
# both logs share. The workspace log reads a table's payload out of each
# entry's ``tables`` (``payload_of``); everything else is the same.


def _item(path: str, v: int, stats: dict | None = None) -> list:
    """One payload item: the dir, the version that wrote it into this
    lineage, and the dir's own stats when it has any."""
    return [path, v, stats] if stats else [path, v]


def _items(payload: dict) -> list:
    return payload["set"] if "set" in payload else payload.get("adds", [])


def _resolve(
    by_v: dict[int, dict], head: int, payload_of=None
) -> tuple[list[tuple], list[tuple]]:
    """The one file-set walker: ``(data, dels)`` at version ``head``,
    following ``_ancestry`` and collecting payloads down to the nearest
    ``set``, in parent-then-adds order. ``data`` is ``[(dir, v,
    stats), ...]``; ``dels`` is ``[(dir, (key_col, ...), v, stats),
    ...]`` — the merge-on-read plan (Iceberg v2 row-level deletes, spec
    §Row-level deletes): an equality-delete file at version V removes
    matching rows from data items of STRICTLY EARLIER versions only, so
    the same commit's insert delta (sequence number V) is exempt, which
    is exactly how MERGE replaces a row in one sequence step.

    ``payload_of(entry)``: the payload an entry holds for this file set
    (``None`` = untouched, skip the entry) — the entry itself for the
    table log (the default), ``entry["tables"].get(name)`` for a
    workspace table. Every dir is listed as often as payloads name it:
    an update merge's delta is both a data item and its own delete file
    (``_needed_dirs`` de-duplicates)."""
    chain: list[dict] = []
    for v in _ancestry(by_v, head):
        p = by_v[v] if payload_of is None else payload_of(by_v[v])
        if p is not None:
            chain.append(p)
            if "set" in p:
                break
    data: list[tuple] = []
    dels: list[tuple] = []
    for p in reversed(chain):
        data.extend((x[0], x[1], x[2] if len(x) > 2 else {}) for x in _items(p))
        dels.extend(
            (d["path"], tuple(d["on"]), d["v"], d.get("stats") or {})
            for d in p.get("dels", ())
        )
    return data, dels


def _resolve_at(table_path: str, version: int) -> tuple[list, list]:
    """``_resolve`` on a table's cached log state (no log copy)."""
    with _locked_state(table_path) as st:
        if version not in st.by_v:
            raise ValueError(
                f"version {version} not found (have {sorted(st.by_v)})"
            )
        return _resolve(st.by_v, version)


def _needed_dirs(data: list[tuple], dels: list[tuple]) -> list[str]:
    """The dirs a resolved snapshot needs on disk, data then delete
    files, each once (ADVICE r14: an update merge's delta doubles as its
    delete file, and a count must not see it twice)."""
    return list(dict.fromkeys([x[0] for x in data] + [d[0] for d in dels]))


def _materialize(data: list[tuple], dels: list[tuple]) -> dict:
    """A resolved file set as one restatement payload ``{"set"[,
    "dels"]}``. Every item keeps its own version and stats: delete
    application is strictly-earlier-ordered, so one version for all
    would resurrect deleted rows or delete the restoring delta's own
    rows, and one stats dict for all would let ``read_pruned`` drop
    inherited dirs (ADVICE r14)."""
    out: dict = {"set": [_item(p, v, s) for p, v, s in data]}
    if dels:
        out["dels"] = [
            {"path": p, "on": list(on), "v": v, **({"stats": s} if s else {})}
            for p, on, v, s in dels
        ]
    return out


def _named_dirs(payloads) -> set[str]:
    """Every dir any of ``payloads`` names (items and delete files),
    normalized, with no resolution at all. Over the entries of one log
    this is the union of their resolved sets: a walk only ever collects
    payloads of entries still in the log."""
    out: set[str] = set()
    for p in payloads:
        out.update(os.path.normpath(x[0]) for x in _items(p))
        out.update(os.path.normpath(d["path"]) for d in p.get("dels", ()))
    return out


def _append_delta(
    spark: SparkSession, base: list[str], target: list[str], why: str
) -> DataFrame:
    """The incremental append scan both logs share: scan the dirs
    ``target`` adds over ``base``, planned from metadata only. Raises
    ``ValueError(why + ...)`` when ``base`` is not a subset of
    ``target`` — files were rewritten, so the difference is not an
    append delta (Iceberg's incremental scan raises the same way)."""
    base_set = set(base)
    if not base_set.issubset(target):
        raise ValueError(f"{why}; incremental append scan is undefined")
    delta = [p for p in target if p not in base_set]
    if not delta:
        return _read_dirs(spark, target).limit(0)
    return _read_dirs(spark, delta)


def _remove_unnamed(
    candidates: list[str], named: set[str], older_than_ms: int | None
) -> list[str]:
    """The orphan sweep both logs share: remove every candidate dir no
    entry names, except those modified at or after ``older_than_ms``
    (the concurrent-writer safety window). Returns the removed dirs."""
    import shutil

    removed = []
    for full in candidates:
        if full not in named and (
            older_than_ms is None
            or os.path.getmtime(full) * 1000 < older_than_ms
        ):
            shutil.rmtree(full)
            removed.append(full)
    return removed


#: The keys a materialized entry's ``restate`` replaces, in both logs.
_PAYLOAD_KEYS = ("parent", "set", "adds", "dels", "tables", "views")


def _expire_log(
    log_path: str,
    older_than_ms: int,
    keep_last: int,
    truncate_history: bool,
    restate,
    payloads,
) -> list[int]:
    """The expiry body both logs share, under the commit lock: select
    the expirable entries (``_expirable``), MATERIALIZE every retained
    entry whose parent goes away — its payload keys are replaced by
    ``restate(by_v, entry)``, resolved on the full pre-prune log, and
    ``root`` marks the explicit end of chain (without it the implicit
    previous-version fallback walks into a foreign lineage, ADVICE r10)
    — rewrite the log, drop expired idempotency keys, then delete every
    dir the expired entries name and no retained entry names
    (``payloads(entries)`` lists the entries' file-set payloads; append
    commits share dirs across versions). Returns the expired versions."""
    import shutil

    with _log_lock(log_path):
        log = _read_log(log_path)
        expired = _expirable(
            log_path, log, older_than_ms, keep_last, truncate_history
        )
        if not expired:
            return []
        by_v = _by_version(log)
        gone = {e["version"] for e in expired}
        keep = [
            {
                **{k: x for k, x in e.items() if k not in _PAYLOAD_KEYS},
                **restate(by_v, e),
                "root": True,
            }
            if e.get("parent") in gone
            else e
            for e in log
            if e["version"] not in gone
        ]
        _touch_lock(log_path)  # heartbeat before the long rewrite
        _write_log(log_path, keep)
        _drop_expired_keys(log_path, keep)
    for p in _named_dirs(payloads(expired)) - _named_dirs(payloads(keep)):
        shutil.rmtree(p, ignore_errors=True)
    return [e["version"] for e in expired]



def _read_mor(
    spark: SparkSession, data: list[tuple], dels: list[tuple]
) -> DataFrame:
    """Execute a ``_resolve`` plan: scan the data directories and
    apply equality-delete files as ANTI-JOINS — Iceberg v2's
    merge-on-read read path (m13's scan shape, now driven by the commit
    log itself). Data dirs sharing the same applicable-delete set are
    scanned as one group, so the number of anti-joins is O(#delete
    commits), not O(#data dirs); at scale each anti-join's delete side
    is a skinny key set that AQE broadcasts, and compaction
    (``compact_mor``) periodically folds the debt back to a plain scan."""
    from pyspark.sql import functions as F  # noqa: F401  (parity import)

    if not data:
        # A plan with delete files but no data dirs (every data dir
        # pruned / an empty snapshot): there is nothing to anti-join
        # against, and indexing frames[0] below would IndexError
        # (ADVICE r14). Callers that can supply a schema handle the
        # empty case themselves (read_pruned); here be explicit.
        raise ValueError(
            "scan plan has no data directories (empty snapshot or "
            "every data dir pruned); nothing to scan"
        )
    if not dels:
        return _read_dirs(spark, [p for p, _v, _s in data])
    groups: dict[tuple, list[str]] = {}
    for p, v, _s in data:
        app = tuple(
            i for i, (_dp, _on, dv, _ds) in enumerate(dels) if dv > v
        )
        groups.setdefault(app, []).append(p)
    frames = []
    for app, paths in groups.items():
        df = _read_dirs(spark, paths)
        by_on: dict[tuple, list[str]] = {}
        for i in app:
            dp, on, _dv, _ds = dels[i]
            by_on.setdefault(on, []).append(dp)
        for on, dpaths in by_on.items():
            keys = _read_dirs(spark, dpaths).select(*on)
            df = df.join(keys, list(on), "left_anti")
        frames.append(df)
    frames = _widen_numeric_types(frames)
    out = frames[0]
    for d in frames[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _by_version(log: list[dict]) -> dict[int, dict]:
    return {e["version"]: e for e in log}


def _check_partition_layout(
    parent_entry: dict, partition_by: list[str] | None
) -> None:
    """Appends must match the parent's recorded layout: mixing
    partitioned and unpartitioned directories (or different partition
    column sets) under one table makes every later multi-dir read fail
    at read time, far from the faulty commit (ADVICE r9). Legacy entries
    without a recorded layout are not validated."""
    recorded = parent_entry.get("partition_by", "unknown")
    if recorded == "unknown":
        return
    if (recorded or None) != (partition_by or None):
        raise ValueError(
            f"partition_by={partition_by!r} does not match the table's "
            f"recorded layout {recorded!r}; appends must keep the "
            "parent snapshot's partitioning (overwrite via "
            "commit_snapshot to change the layout)"
        )


def _column_stats(df: DataFrame, cols: list[str]) -> dict:
    """Per-column [min, max] of ``df`` — the Iceberg manifest-style file
    stats a pruned read skips on. One agg job; values must be
    JSON-serializable (ints/floats/strings all are)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in cols}


def _stats_observer(df: DataFrame, cols: list[str]):
    """Fold the per-column [min, max] stats into the WRITE job itself
    (r16, guide §1.2 — don't evaluate the same plan twice): returns
    ``(df_with_observation, resolve)`` where ``resolve()`` yields the
    same dict shape as ``_column_stats`` once the write action has run.
    Before this, every stats-bearing commit ran the full source plan a
    second time for the stats agg — on a guarded MoR merge that second
    pass re-read the target and re-ran the join per micro-batch. MIN/MAX
    are retry-idempotent, so task retries under the observation cannot
    skew them. ``cols`` empty → (df, lambda: None)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if not cols:
        return df, lambda: None
    obs = Observation()
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    out = df.observe(obs, *aggs)

    def resolve() -> dict:
        row = obs.get
        return {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in cols}

    return out, resolve


def _commit_data(
    df: DataFrame,
    table_path: str,
    branch: str,
    overwrite: bool,
    pin_main: bool,
    ts_ms: int | None = None,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    idempotency_key: str | None = None,
    max_retries: int = 0,
    keys_max: int | None = None,
    _write=None,
) -> int:
    """The one table data-commit body behind ``commit_snapshot``,
    ``commit_append`` and their ``*_ref`` twins: plan the parent on
    ``branch``'s head, check idempotency and (appends) the partition
    layout, write the data directory ONCE, then run the CAS — retrying a
    lost race up to ``max_retries`` times with only the metadata
    re-planned. ``overwrite`` commits a ``v{N}`` snapshot whose file set
    is exactly ``df`` (the only commit allowed on an empty log); an
    append commits a ``d{N}`` delta over the parent's files.

    ``pin_main``: the ``*_ref`` writers move (and so pin) the branch
    pointer even for an unpinned ``main``; the pre-ref writers move
    ``main`` only when it is already pinned — the ``main`` rule."""
    import random

    ddir: str | None = None
    stats = None
    for attempt in range(max_retries + 1):
        refs, parent_v, parent_entry, head = _plan_commit(table_path, branch)
        if parent_v is None and (pin_main or not overwrite):
            raise ValueError(
                f"no snapshots at {table_path}; commit_snapshot first"
            )
        if idempotency_key is not None:
            found = _find_idempotent(
                table_path, refs, branch, parent_v, idempotency_key
            )
            if found is not None:
                return found
        if not overwrite:
            _check_partition_layout(parent_entry, partition_by)
        version = head + 1 if head is not None else 1
        if ddir is None:  # the one data write, reused across retries
            ddir = _data_dir(table_path, "v" if overwrite else "d", version)
            if _write is not None:
                _write(ddir)
            else:
                wdf, resolve_stats = _stats_observer(df, stats_cols or [])
                w = wdf.write.mode("overwrite")
                if partition_by:
                    # Hive-style partition directories inside the
                    # immutable data dir — Iceberg's partition spec on
                    # the emulation: readers prune whole partition
                    # directories from a literal partition predicate.
                    w = w.partitionBy(*partition_by)
                w.parquet(ddir)
                stats = resolve_stats() if stats_cols else None
        entry: dict = {
            "version": version,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            ("set" if overwrite else "adds"): [_item(ddir, version, stats)],
        }
        if parent_v is not None:
            entry["parent"] = parent_v
        entry["partition_by"] = partition_by
        if idempotency_key is not None:
            entry["idempotency_key"] = idempotency_key
        try:
            _append_commit(
                table_path,
                entry,
                expected_head=head,
                move_branch=(
                    branch if pin_main or branch in refs["branches"] else None
                ),
                expected_branch_v=parent_v,
                keys_max=keys_max,
            )
            return version
        except CommitConflict:
            if attempt >= max_retries:
                raise
            time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
    raise AssertionError("unreachable")


def commit_snapshot(
    df: DataFrame,
    table_path: str,
    ts_ms: int | None = None,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as the table's next immutable snapshot on ``main``;
    returns the new version number. Copy-on-write: existing versions are
    untouched.

    ``stats_cols``: record per-column [min, max] on the commit's item —
    Iceberg's manifest column stats, which ``read_pruned`` uses to skip
    whole data directories from a range predicate without opening them.

    Crash-safe: the version directory is written first, so a commit that
    died after writing v{N}/ but before the log swap leaves an orphan
    that ``remove_orphan_dirs`` reclaims — the log append is the commit
    point. Concurrent committers are arbitrated by the CAS in
    ``_commit_locked``: the loser raises ``CommitConflict``."""
    os.makedirs(table_path, exist_ok=True)
    return _commit_data(
        df, table_path, "main", overwrite=True, pin_main=False, ts_ms=ts_ms,
        partition_by=partition_by, stats_cols=stats_cols,
    )


def commit_append(
    df: DataFrame,
    table_path: str,
    ts_ms: int | None = None,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Append ``df`` as ``main``'s next snapshot WITHOUT rewriting any
    existing data: only the new batch is written (``d{N}/``), and the new
    snapshot's file set references the parent's files plus it — Iceberg's
    ``table.append`` (bot_iceberg_loader.py:307), where a commit is a new
    manifest list over mostly-shared data files. Returns the new version.
    Requires an existing snapshot (append to nothing is commit_snapshot's
    job). The log entry stores only the DELTA (``adds`` + ``parent``) —
    O(1) metadata bytes per commit at any history length."""
    return _commit_data(
        df, table_path, "main", overwrite=False, pin_main=False,
        ts_ms=ts_ms, partition_by=partition_by, stats_cols=stats_cols,
    )


def _probe_dir(path: str) -> tuple[str | None, list[str]]:
    """The one per-directory schema probe: ``(group_key, names)`` for a
    committed data dir, read from ONE parquet footer plus the hive
    partition-directory names (a data dir is one commit's write, so all
    its files share a schema). ``group_key`` is the footer's arrow
    schema with file metadata stripped — the input of ``_read_dirs``'
    same-schema multi-path grouping — or ``None`` for a hive-partitioned
    dir (it keeps its own ``basePath`` read); ``names`` is the column
    set ``_ref_column_names`` unions. A dir with no parquet file yields
    ``(None, [])``.

    Raises ``ValueError`` naming the dir when the probe cannot vouch for
    it (ADVICE r17): an unreadable footer (a truncated file raises
    ``ArrowInvalid``), or parquet files at the root next to ``k=v``
    subdirectories — a layout no single commit writes, where one footer
    cannot speak for the whole dir."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        pf = next((f for f in files if f.endswith(".parquet")), None)
        if root == path and pf is not None and any("=" in d for d in dirs):
            raise ValueError(
                f"data dir {path} mixes root parquet files with "
                "partition subdirectories"
            )
        if pf is None:
            continue
        rel = os.path.relpath(root, path)
        part_cols = [
            seg.split("=", 1)[0]
            for seg in (rel.split(os.sep) if rel != "." else [])
            if "=" in seg
        ]
        try:
            schema = pq.read_schema(os.path.join(root, pf)).remove_metadata()
        except (OSError, ValueError) as exc:  # ArrowInvalid is a ValueError
            raise ValueError(
                f"data dir {path}: unreadable parquet footer in {pf} ({exc})"
            ) from exc
        key = None if part_cols else str(schema)
        return key, list(schema.names) + part_cols
    return None, []


def _group_dirs(paths: list[str]) -> list[list[str]]:
    """``_read_dirs``' scan groups, in first-appearance order: dirs
    whose probe keys agree share one multi-path read; partitioned dirs
    and dirs the probe cannot vouch for stay alone, falling back to
    their own ``basePath`` read (where Spark reports any real damage)."""
    groups: list[list[str]] = []
    by_key: dict = {}
    for p in paths:
        try:
            key = _probe_dir(p)[0]
        except ValueError:
            key = None
        if key is not None and key in by_key:
            groups[by_key[key]].append(p)
        else:
            groups.append([p])
            if key is not None:
                by_key[key] = len(groups) - 1
    return groups


def _read_dirs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Scan a snapshot's data-directory set. Hive-partitioned tables need
    each directory read with its own ``basePath`` (a bare multi-path read
    refuses to unify partition discovery across roots); the filter-through-
    union rewrite keeps partition pruning effective on every branch.

    r17 (guide §1.2 — the read path's planning cost was the measured tax
    on every multi-snapshot consumer): unpartitioned dirs whose parquet
    footers carry the SAME schema are scanned as ONE multi-path read
    instead of one read + union branch per dir. Each per-dir
    ``spark.read.parquet`` cost ~100 ms of driver-side analysis
    (listing + footer inference + a plan subtree), ~0.9 s per 8-dir
    ``read_ref`` PLAN; the grouped read infers once per schema group and
    plans one FileScan (measured 6x on plan+count for the same 8 dirs).
    Spark itself infers each group's schema from its own footers, so
    type fidelity is exactly the per-dir read's. Groups (schema
    evolution) and partitioned dirs still union below.

    ``allowMissingColumns``: additive SCHEMA EVOLUTION across snapshots —
    an append that introduced a new column must not brick reads of the
    table; rows from pre-evolution directories surface the column as
    NULL, exactly Iceberg's add-column semantics (read with the latest
    schema, missing fields null). Column RENAMES/type changes still
    raise at the union, which is also honest: without Iceberg's field
    IDs a rename is indistinguishable from drop+add."""
    if len(paths) == 1:
        return spark.read.option("basePath", paths[0]).parquet(paths[0])
    dfs = [
        spark.read.option("basePath", g[0]).parquet(g[0])
        if len(g) == 1
        else spark.read.parquet(*g)
        for g in _group_dirs(paths)
    ]
    dfs = _widen_numeric_types(dfs)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


#: Iceberg's legal type PROMOTIONS (spec §Schemas: int->long,
#: float->double) — the widenings a reader applies so snapshots written
#: before a column widened still union with post-widening files. Ranked
#: so the WIDEST observed type wins; anything outside one family still
#: raises at the union (decimal scale changes, string<->numeric, nested
#: types — promoting those silently would misread data).
_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_RANK = {"float": 0, "double": 1}


def _widen_numeric_types(dfs: list[DataFrame]) -> list[DataFrame]:
    """Cast each snapshot directory's frame so same-named numeric
    columns share the widest type observed across directories — but ONLY
    within one numeric family (Iceberg's legal promotions). A CROSS-
    family change (bigint vs double, string vs bigint, decimal scale
    changes, nested types) raises here with the column named: ADVICE r11
    (high) — the old code kept the first-seen type and cast every other
    frame to it (double->bigint silently truncating fractions,
    string->bigint nulling values), and merely leaving the columns
    uncast would not fix it either, because ``unionByName``'s implicit
    coercion ALSO widens cross-family (bigint+double -> double,
    bigint+string -> string) instead of failing. An illegally-evolved
    table must error, not be misread — without Iceberg's field IDs a
    cross-family change is indistinguishable from drop+add."""
    from pyspark.sql import functions as F

    widest: dict[str, str] = {}
    for d in dfs:
        for name, t in d.dtypes:
            prev = widest.get(name)
            if prev is None:
                widest[name] = t
            elif prev != t:
                for rank in (_INT_RANK, _FLOAT_RANK):
                    if prev in rank and t in rank:
                        widest[name] = max((prev, t), key=rank.get)
                        break
                else:
                    raise ValueError(
                        f"incompatible type evolution for column "
                        f"{name!r}: snapshot directories disagree "
                        f"({prev} vs {t}) outside one numeric family; "
                        "Iceberg's legal promotions are int->long and "
                        "float->double — a union would silently coerce, "
                        "misreading the illegally-evolved table"
                    )
    out = []
    for d in dfs:
        for name, t in d.dtypes:
            w = widest.get(name)
            if w is not None and w != t:
                d = d.withColumn(name, F.col(name).cast(w))
        out.append(d)
    return out


def read_incremental(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental append scan: the rows committed AFTER ``from_version``
    up to and including ``to_version`` (default: ``main``'s head) —
    Iceberg's incremental read (``start-snapshot-id``/``end-snapshot-id``),
    the input contract of every CDC-style downstream consumer.

    Planned from METADATA only: the two snapshots' file sets are
    difference'd on the driver (O(#files), no data touched) and the
    returned frame scans just the delta files — at 100 TB a consumer
    processes the day's appends, never the table. Overwrite commits in
    the range make the append-diff ill-defined (files were rewritten, not
    added); like Iceberg's incremental scan, that raises."""
    if to_version is None:
        to_version = _resolve_ref(table_path, "main")
    base, from_dels = _resolve_at(table_path, from_version)
    target, to_dels = _resolve_at(table_path, to_version)
    # Identity of a delete file is (path, key cols, sequence version);
    # its stats dict is an unhashable pruning hint, not identity.
    if {d[:3] for d in from_dels} != {d[:3] for d in to_dels}:
        # A merge-on-read commit in the range DELETED rows; the diff is
        # not an append set. Same honesty as the overwrite raise —
        # changelog_diff / compact_mor are the tools for this shape.
        raise ValueError(
            "merge-on-read (row-delete) commit between the two "
            "snapshots; incremental append scan is undefined — "
            "compact first or use a changelog diff"
        )
    return _append_delta(
        spark, [x[0] for x in base], [x[0] for x in target],
        "overwrite commit between the two snapshots",
    )


def _rng_disjoint(rng, lo, hi) -> bool:
    """True when a committed [min, max] PROVABLY misses [lo, hi];
    missing or half-open stats are never disjoint (conservative)."""
    return (
        rng is not None
        and rng[0] is not None
        and rng[1] is not None
        and (rng[1] < lo or rng[0] > hi)
    )


def _delete_prunable(
    on: tuple, dv: int, dstats: dict, kept: list[tuple], col: str, lo, hi
) -> bool:
    """Can this equality-delete file be SKIPPED by a pruned range scan
    on ``col`` ∈ [lo, hi] whose surviving data dirs are ``kept``? Three
    resurrection-safe proofs (round 15, VERDICT r14 ask #1 — real
    Iceberg scopes delete files by partition/sequence so disjoint
    deletes never join; these are the emulation's equivalents):

    1. SEQUENCE proof: deletes apply to strictly-earlier data only; if
       no surviving dir predates the delete's commit, it matches
       nothing in this scan.
    2. PREDICATE proof: when ``col`` is one of the delete's key columns
       and the delete file's committed [min, max] for it is disjoint
       from [lo, hi] — every row it would remove has ``col`` outside
       the range, so the row-level filter drops it regardless.
       (Equality on the key column means the matched target row's
       value IS the delete row's value; that is what makes this exact.
       A non-key column's range would prove nothing.)
    3. DATA-RANGE proof: some key column where EVERY earlier surviving
       dir carries stats and the union of their ranges is disjoint
       from the delete's range — no retained row can equal any delete
       key. A single stat-less dir voids this proof (conservative).

    A stat-less delete file is only skippable by proof 1."""
    earlier = [(p, v, s) for p, v, s in kept if v < dv]
    if not earlier:
        return True
    if not dstats:
        return False
    if col in on and _rng_disjoint(dstats.get(col), lo, hi):
        return True
    for c in on:
        drng = dstats.get(c)
        if drng is None or drng[0] is None or drng[1] is None:
            continue
        los, his = [], []
        for _p, _v, s in earlier:
            rng = (s or {}).get(c)
            if rng is None or rng[0] is None or rng[1] is None:
                los = []
                break
            los.append(rng[0])
            his.append(rng[1])
        if los and (max(his) < drng[0] or min(los) > drng[1]):
            return True
    return False


def _prune_plan(
    data: list[tuple], dels: list[tuple], col: str, lo, hi
) -> tuple[list[tuple], list[tuple], int, int]:
    """Metadata-only pruning of a ``_resolve`` plan against
    ``col`` ∈ [lo, hi]: returns (kept_data, kept_dels, n_data_pruned,
    n_dels_pruned). Data dirs prune on their own committed range;
    delete files prune via ``_delete_prunable``'s proofs against the
    SURVIVING data set (pruning a delete a kept row needs would
    resurrect rows, so each skip carries a proof, never a guess)."""
    kept: list[tuple] = []
    pruned = 0
    for path, v, stats in data:
        if _rng_disjoint(stats.get(col), lo, hi):
            pruned += 1
            continue
        kept.append((path, v, stats))
    kept_dels: list[tuple] = []
    dels_pruned = 0
    for dp, on, dv, dstats in dels:
        if _delete_prunable(on, dv, dstats, kept, col, lo, hi):
            dels_pruned += 1
            continue
        kept_dels.append((dp, on, dv, dstats))
    return kept, kept_dels, pruned, dels_pruned


def read_pruned(
    spark: SparkSession,
    table_path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Range scan with MANIFEST-STATS FILE PRUNING — Iceberg's min/max
    file skipping on the emulated catalog: every data directory whose
    committed [min, max] for ``col`` is disjoint from [lo, hi] is
    dropped WITHOUT being opened; the survivors are scanned and the
    predicate re-applied row-level (stats prune conservatively, rows
    decide exactly). Directories committed without stats are always
    scanned — absence of stats can never lose rows.

    Equality-DELETE files are also pruned when provably irrelevant to
    the surviving data (round 15 — ``_delete_prunable``'s sequence /
    predicate / data-range proofs); a delete file without stats is
    always applied. This closes the one O(outstanding-deletes) cost on
    the scan path: before it, EVERY outstanding delete joined EVERY
    pruned read regardless of predicate.

    Returns (frame, n_dirs_scanned, n_dirs_pruned) — data-dir counts,
    the m50/m55 contract; ``read_pruned_detail`` adds delete-file
    counts. At 100 TB this is the difference between touching every
    file of an append-only table and touching the handful whose ranges
    overlap the query — the same metadata-only planning as partition
    pruning, but on VALUE ranges, so it works for unpartitioned
    columns too."""
    df, detail = read_pruned_detail(
        spark, table_path, col, lo, hi, version=version
    )
    return df, detail["data_scanned"], detail["data_pruned"]


def read_pruned_detail(
    spark: SparkSession,
    table_path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """``read_pruned`` with the full pruning ledger: returns
    ``(frame, {"data_scanned", "data_pruned", "dels_applied",
    "dels_pruned"})`` so a caller (m56, maintenance planners) can see
    how much of the MoR delete debt the scan actually paid. ``version``
    defaults to ``main``'s head."""
    if version is None:
        version = _resolve_ref(table_path, "main")
    data, dels = _resolve_at(table_path, version)
    kept, kept_dels, pruned, dels_pruned = _prune_plan(
        data, dels, col, lo, hi
    )
    from pyspark.sql import functions as F

    if not kept:
        if not data:
            raise ValueError(
                f"snapshot has no data directories at {table_path}"
            )
        # Every data dir pruned: schema-only read of ALL pruned dirs
        # (parquet footers, zero rows pass the limit) keeps the empty
        # frame typed with the table's UNION schema (ADVICE r15 — the
        # oldest dir alone may predate an additive evolution and lack
        # the scanned column, making the filter below raise; ADVICE r14
        # — _read_mor on an all-pruned plan used to IndexError).
        df = _read_dirs(spark, [p for p, _v, _s in data]).limit(0)
    else:
        df = _read_mor(spark, kept, kept_dels)
    df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, {
        "data_scanned": len(kept),
        "data_pruned": pruned,
        "dels_applied": len(kept_dels) if kept else 0,
        "dels_pruned": dels_pruned if kept else len(dels),
    }


def read_snapshot_dirs(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    as_of_ts_ms: int | None = None,
) -> DataFrame:
    """Time travel: ``main``'s head by default, ``VERSION AS OF`` via
    ``version``, ``TIMESTAMP AS OF`` via ``as_of_ts_ms`` (largest commit
    at-or-before the timestamp) — the fallback twin of
    ``catalog.ddl.read_snapshot``."""
    if version is None and as_of_ts_ms is not None:
        at_or_before = [
            e for e in _read_log(table_path) if e["ts_ms"] <= as_of_ts_ms
        ]
        if not at_or_before:
            raise ValueError(f"no snapshot at or before {as_of_ts_ms}")
        # commit_snapshot accepts caller-supplied ts_ms, so the log is
        # not guaranteed ts-ordered — pick the max timestamp, not the tail
        version = max(at_or_before, key=lambda e: e["ts_ms"])["version"]
    elif version is None:
        version = _resolve_ref(table_path, "main")
    return _read_mor(spark, *_resolve_at(table_path, version))


def list_snapshots(table_path: str) -> list[dict]:
    """The commit log, oldest first: each entry's ``version``, ``ts_ms``
    and provenance keys plus its file-set payload — ``set`` or ``adds``
    of ``[path, v(, stats)]`` items, optional ``dels`` (module
    docstring). Older logs read back in this shape."""
    return list(_read_log(table_path))


def create_branch(table_path: str, name: str, from_ref: str = "main") -> int:
    """Nessie ``CREATE BRANCH <name> FROM <ref>``: a movable pointer at
    the source ref's current version. O(1) metadata; no data touched.
    Serves table and workspace paths alike (``ws_create_branch``)."""
    return _create_ref(
        table_path, "branches", name, _resolve_ref(table_path, from_ref)
    )


def create_tag(table_path: str, name: str, from_ref: str = "main") -> int:
    """Nessie ``CREATE TAG``: an IMMUTABLE pointer — later commits on any
    branch never move it, so 'the audited state' stays addressable by
    name forever (until explicitly deleted). ``expire_snapshots_dirs``
    and ``remove_orphan_dirs`` honor that contract: every version
    reachable from a tag or branch head is protected from expiry, so
    deleting the ref is the ONLY way its snapshots become expirable —
    Nessie's unreachable-commit GC."""
    return _create_ref(
        table_path, "tags", name, _resolve_ref(table_path, from_ref)
    )


def commit_append_ref(
    df: DataFrame,
    table_path: str,
    branch: str,
    ts_ms: int | None = None,
    partition_by: list[str] | None = None,
    idempotency_key: str | None = None,
    max_retries: int = 0,
    keys_max: int | None = None,
    _write=None,
) -> int:
    """``commit_append`` onto a BRANCH: parents on the branch head (not
    the global log tail), records the parent for ancestry, and moves only
    that branch's pointer — commits on ``etl`` are invisible to ``main``
    readers until merged, Nessie's isolated-ingest workflow.

    ``idempotency_key``: a caller-chosen token recorded in the commit
    entry; a retry bearing the same key on the same branch returns the
    already-committed version WITHOUT writing again. Streaming
    foreachBatch sinks pass the micro-batch id here — Spark re-runs a
    batch with the same id after failure/restart, and without the key a
    retried batch would double-append (round-9 self-review; the
    exactly-once contract every real table sink implements via the
    batchId). The retry check is an O(1) indexed lookup
    (``_find_idempotent``); legacy pre-index history still walks.

    ``max_retries``: how many times a LOST CAS race is retried here
    instead of raising ``CommitConflict`` (VERDICT r10 ask #2). The
    expensive work — the data directory — is written ONCE; each retry
    re-plans only metadata (new parent/head, idempotency + layout
    re-checks) and re-attempts the swap after a jittered backoff, so a
    loser's Spark job is reused, not orphaned debris. If a racer landed
    the same idempotency key meanwhile, the retry returns that version
    and this attempt's directory is left for ``remove_orphan_dirs``.

    ``keys_max``: bound the idempotency index to the newest N keyed
    commits (``_prune_keys``) — the O(1)-refs knob for unexpiring keyed
    streams; a replay OLDER than the window re-commits, so pick it
    beyond any possible replay distance.

    ``_write``: probe hook — a callable ``(ddir) -> None`` that writes
    the data directory instead of the Spark parquet job, so
    ``tools/commitlog_probe.py`` can drive THIS exact plan+commit path
    at 100k-commit scale without 100k Spark jobs. Production callers
    leave it None.

    Per-commit metadata CPU is O(appended bytes), not O(history): the
    plan phase reads head + parent through the incremental log cache
    (``_locked_state``; VERDICT r11 ask #1), the idempotency miss is an
    O(1) dict probe, and the CAS appends one segment line."""
    return _commit_data(
        df, table_path, branch, overwrite=False, pin_main=True, ts_ms=ts_ms,
        partition_by=partition_by, idempotency_key=idempotency_key,
        max_retries=max_retries, keys_max=keys_max, _write=_write,
    )


def commit_snapshot_ref(
    df: DataFrame,
    table_path: str,
    branch: str,
    ts_ms: int | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """OVERWRITE a branch: the branch's next snapshot is exactly ``df``
    (a full restatement), parented on the branch head so ancestry stays
    honest — the ref-API twin of ``commit_snapshot``, Nessie's
    replace-table-on-a-branch. Because an overwrite REWRITES the files
    the branch point referenced, a later merge of a sibling branch that
    still builds on those files is a genuine content conflict and
    ``merge_branch`` raises (the conflict path's honest trigger)."""
    return _commit_data(
        df, table_path, branch, overwrite=True, pin_main=True, ts_ms=ts_ms,
        partition_by=partition_by,
    )


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    branch: str = "main",
    partition_by: list[str] | None = None,
    strategy: str = "cow",
    stats_cols: list[str] | None = None,
    check_unique: bool = True,
    del_stats: bool = True,
    update_set: dict[str, str] | None = None,
    matched_condition: str | None = None,
    merge_schema: bool = False,
) -> int:
    """MERGE INTO over the snapshot catalog — the copy-on-write upsert
    (Iceberg's ``MERGE INTO t USING s ON … WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *`` spelling; reference mechanism:
    the ref's append-only loads, bot_iceberg_loader.py:307, never
    reconcile keys — this adds the reconciling write).

    ``when_matched``: ``'update'`` replaces the whole matched row with
    the source row (SET *), ``'delete'`` drops it. ``when_not_matched``:
    ``'insert'`` adds source-only rows, ``'ignore'`` drops them. The
    merged state commits as ONE new snapshot on ``branch`` via
    ``commit_snapshot_ref`` (parented on the branch head — ancestry,
    time travel, and every ref reader see an atomic transition; a
    concurrent commit loses the CAS, never interleaves).

    ``strategy``: ``'cow'`` (copy-on-write, the default) commits the
    fully reconciled table as one restated snapshot — simple reads,
    O(table) write. ``'mor'`` (merge-on-read, round 14 — VERDICT r13
    ask #1) commits an EQUALITY-DELETE file (the source's key columns)
    plus an INSERT delta (the source rows the clause matrix admits):
    O(batch) bytes written regardless of table size — Iceberg v2's
    row-level-delete write path (spec §Row-level deletes; the read side
    is m13's anti-join, applied by ``_read_mor`` from the commit log).
    Deleting a key the target never held is a no-op, so the delete file
    is just the source keys — for update+insert the write plans WITHOUT
    reading the target at all. Readers pay one anti-join per MoR commit
    until ``compact_mor`` folds the debt back into a materialized
    snapshot (the lazy-compaction contract m28's planner schedules).

    ``update_set`` (round 15, VERDICT r14 ask #4 — Iceberg/Spark's
    ``WHEN MATCHED THEN UPDATE SET col = expr``): a
    ``{target_col: sql_expr}`` dict updating a COLUMN SUBSET of matched
    rows instead of wholesale source replacement — what CDC feeds with
    partial payloads need. Expressions run over the matched join with
    both sides aliased (``target.col`` / ``source.col``; merge-key
    columns are unqualified). Unlisted columns keep the target's value.
    Key columns cannot be SET (every engine's rule — rewriting the
    match key mid-merge is undefined). Requires
    ``when_matched='update'``; works on both strategies — under MoR
    the delta carries the POST-update rows, so the commit shape
    (delete keys + insert delta, O(batch) bytes) is unchanged, but the
    target IS read to build those rows (one extra scan vs. the
    read-free SET * fast path).

    ``matched_condition`` (round 15 — Iceberg/Spark's ``WHEN MATCHED
    AND <cond> THEN …``): a SQL predicate over the matched join
    (``target.`` / ``source.`` qualifiers, keys unqualified) gating the
    matched action. Matched rows where the condition is false or NULL
    keep the target's values untouched — standard SQL clause-condition
    semantics. Composes with both ``when_matched`` actions and with
    ``update_set``. Under MoR the target is read to evaluate the
    condition, the delete-key set covers ONLY the rows the action
    touches (condition-true matches), and the commit stays O(batch)
    bytes.

    ``merge_schema`` (round 15 — Iceberg's ``mergeSchema`` /
    ``spark.sql.iceberg.merge-schema`` on MERGE): allow ADDITIVE
    schema evolution through the merge — a source carrying new columns
    lands them, and pre-evolution rows read them as NULL (the same
    add-column semantics ``_read_dirs`` already gives appends, m12).
    Off by default: a schema drift in a CDC feed is usually a bug, so
    a shape-changing source RAISES with both schemas named — before
    this flag, the two strategies disagreed (CoW failed deep inside
    the union analyzer; MoR silently evolved). Only the plain
    SET-*/insert paths support it (a SET-clause or conditional merge
    with simultaneous schema change is ambiguous about the new
    column's matched-row value — raise and do it in two merges).

    Scale shape (cow): the reconcile is one shuffle join on the merge
    keys (both sides hash-partition on ``on``; at 100 TB the write is
    partition-pruned in real Iceberg — only partitions holding matched
    keys rewrite — while this emulation restates the table, the
    documented CoW fallback every engine ships). Schemas must match by
    name (``unionByName`` underneath); source must be key-unique, the
    standard MERGE precondition (a multi-match raises in real engines —
    enforced here with a cheap count check)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"strategy must be cow|mor: {strategy!r}")
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert|ignore: {when_not_matched!r}"
        )
    if update_set and when_matched != "update":
        raise ValueError(
            "update_set requires when_matched='update' (SET clauses "
            "describe the update branch)"
        )
    if check_unique:
        # ``check_unique=False`` skips this full source evaluation for
        # callers whose source is key-unique BY CONSTRUCTION (e.g. a
        # row_number()==1 reduction, st30) — the check would otherwise
        # run the source plan one extra time per merge, a real cost in
        # a per-micro-batch CDC loop. The semantics on a violated
        # promise are the same as every engine's: last-writer-per-key
        # nondeterminism, on the caller.
        dup = (
            source.groupBy(*on).count().filter("count > 1").limit(1).count()
        )
        if dup:
            raise ValueError(
                "MERGE source is not key-unique on "
                f"{on} — a matched target row would update ambiguously"
            )
    target_cols = _ref_column_names(table_path, branch)
    if update_set:
        _check_update_set(update_set, on, target_cols)
    if merge_schema and (update_set or matched_condition is not None):
        raise ValueError(
            "merge_schema composes only with the plain SET-*/insert "
            "paths — a SET-clause or conditional merge with a "
            "simultaneous schema change is ambiguous (evolve in its "
            "own merge first)"
        )
    # Does the plan land SOURCE-shaped rows in the target (wholesale
    # row replacement or inserts)? Then the shapes must agree — or
    # merge_schema must say evolution is intended. A SET-clause merge
    # that ignores inserts touches only listed columns, so a partial
    # -payload source is legitimate there.
    needs_source_shape = (
        (when_matched == "update" and not update_set)
        or when_not_matched == "insert"
    )
    if (
        needs_source_shape
        and not merge_schema
        and sorted(source.columns) != sorted(target_cols)
    ):
        raise ValueError(
            "MERGE source schema differs from the target "
            f"(source {sorted(source.columns)} vs target "
            f"{sorted(target_cols)}); pass merge_schema=True for "
            "additive evolution"
        )
    if strategy == "mor":
        return _merge_into_mor(
            spark, table_path, source, on, when_matched,
            when_not_matched, branch, partition_by, stats_cols,
            del_stats=del_stats, update_set=update_set,
            matched_condition=matched_condition,
        )
    target = read_ref(spark, table_path, branch)
    keep = target.join(source.select(*on), on, "left_anti")
    if matched_condition is not None:
        from pyspark.sql import functions as F

        joined = _matched_join(target, source, on)
        cond = F.expr(matched_condition)
        # condition false OR NULL -> the matched row keeps its target
        # values (SQL clause-condition semantics: NULL never fires)
        fire = F.coalesce(cond, F.lit(False))
        if when_matched == "update":
            # ONE pass over the matched join (r17): the cond-true and
            # cond-false branches partition the matched rows exactly,
            # so a per-column CASE replaces the two filtered
            # projections that each re-scanned target AND source
            # inside the union.
            cols = []
            for c in target.columns:
                if c in on:
                    cols.append(F.col(c))
                    continue
                upd = (
                    F.expr(update_set[c])
                    if update_set and c in update_set
                    else F.col(f"source.{c}")
                    if not update_set
                    else F.col(f"target.{c}")
                )
                cols.append(
                    F.when(fire, upd).otherwise(F.col(f"target.{c}")).alias(c)
                )
            parts = [keep, joined.select(*cols)]
        else:  # conditional delete: only the cond-false matches survive
            parts = [
                keep,
                joined.filter(~fire).select(
                    *_side_projection(target.columns, on, "target")
                ),
            ]
        if when_not_matched == "insert":
            parts.append(source.join(target.select(*on), on, "left_anti"))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
    elif update_set:
        matched = _apply_update_set(target, source, on, update_set)
        if when_not_matched == "insert":
            src_only = source.join(target.select(*on), on, "left_anti")
            merged = keep.unionByName(matched).unionByName(src_only)
        else:
            merged = keep.unionByName(matched)
    elif when_matched == "update" and when_not_matched == "insert":
        # allowMissingColumns = merge_schema: additive evolution fills
        # pre-evolution rows with NULL (m12's add-column semantics);
        # without the flag a shape drift was rejected above.
        merged = keep.unionByName(
            source, allowMissingColumns=merge_schema
        )
    elif when_matched == "update":  # ignore inserts: only matched update
        matched_src = source.join(target.select(*on), on, "left_semi")
        merged = keep.unionByName(
            matched_src, allowMissingColumns=merge_schema
        )
    elif when_not_matched == "insert":  # delete matched, insert new
        src_only = source.join(target.select(*on), on, "left_anti")
        merged = keep.unionByName(
            src_only, allowMissingColumns=merge_schema
        )
    else:  # delete matched, ignore new
        merged = keep
    return commit_snapshot_ref(
        merged, table_path, branch, partition_by=partition_by
    )


def _check_update_set(
    update_set: dict[str, str], on: list[str], target_columns: list[str]
) -> None:
    for c in update_set:
        if c in on:
            raise ValueError(
                f"cannot SET merge-key column {c!r} (rewriting the "
                "match key mid-merge is undefined in every engine)"
            )
        if c not in target_columns:
            raise ValueError(
                f"SET column {c!r} is not a target column "
                f"(have {target_columns})"
            )


def _ref_column_names(table_path: str, branch: str) -> list[str]:
    """The UNION column-name set of a ref head's data directories,
    resolved from parquet FOOTERS + partition-directory names — the
    metadata ``merge_into`` validates source shape against (r16):
    building the full MoR read plan (`read_ref(...).columns`) just for
    a name-set check cost one Catalyst analysis of the whole anti-join
    tree PER MERGE, a real tax on per-micro-batch CDC loops. Names
    only — the schema compare is order-insensitive and type coercion
    is the write path's job (`_widen_numeric_types` on read). Raises
    ``ValueError`` naming any data dir ``_probe_dir`` cannot vouch for."""
    data, _dels = _resolve_at(table_path, _resolve_ref(table_path, branch))
    names: list[str] = []
    for path, _v, _s in data:
        for n in _probe_dir(path)[1]:
            if n not in names:
                names.append(n)
    return names


def _matched_join(
    target: DataFrame, source: DataFrame, on: list[str]
) -> DataFrame:
    """The matched-row frame every conditional/SET clause evaluates
    over: inner join on the merge keys with both sides aliased
    (``target.`` / ``source.``; key columns unqualified). ONE shuffle
    join; everything downstream is pure Catalyst projections."""
    return target.alias("target").join(source.alias("source"), on, "inner")


def _side_projection(
    target_columns: list[str], on: list[str], side: str
) -> list:
    """Project the matched join back to the target schema taking every
    non-key column from ``side`` ('target' or 'source')."""
    from pyspark.sql import functions as F

    return [
        F.col(c) if c in on else F.col(f"{side}.{c}").alias(c)
        for c in target_columns
    ]


def _matched_projection(
    target_columns: list[str],
    on: list[str],
    update_set: dict[str, str] | None,
) -> list:
    """The POST-update projection of a matched row: SET columns from
    their expressions, unlisted columns from the target; without a SET
    clause this is ``UPDATE SET *`` — the whole source row."""
    from pyspark.sql import functions as F

    if not update_set:
        return _side_projection(target_columns, on, "source")
    cols = []
    for c in target_columns:
        if c in update_set:
            cols.append(F.expr(update_set[c]).alias(c))
        elif c in on:
            cols.append(F.col(c))
        else:
            cols.append(F.col(f"target.{c}").alias(c))
    return cols


def _apply_update_set(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    update_set: dict[str, str],
) -> DataFrame:
    """The matched rows POST-update under a SET-clause subset update
    (see ``_matched_join`` / ``_matched_projection``)."""
    _check_update_set(update_set, on, target.columns)
    return _matched_join(target, source, on).select(
        *_matched_projection(target.columns, on, update_set)
    )


def _one_pass_update_delta(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    update_set: dict[str, str] | None,
    matched_condition: str | None,
    insert: bool,
) -> DataFrame:
    """The delta frame of an UPDATE-action merge that must read the
    target (SET-clause and/or conditional), built from ONE left-outer
    join instead of the inner-join(condition) ∪ anti-join pair (r17,
    guide §1.2): the old shape scanned the target TWICE inside the
    delta's single write job — once for the matched join, once for the
    source-only anti probe — every micro-batch of a guarded CDC loop
    (st37) paid both. ``source LEFT JOIN target`` yields exactly the
    same multiset: each source row appears once per matching target row
    (the inner join's pairs) or once with a NULL target side (the anti
    join's rows), distinguished by a non-null marker column, so the
    projection below reproduces the old two-branch union row-for-row.
    Matched rows where the condition is false or NULL are dropped (SQL
    clause semantics — they keep their target values by NOT being
    deleted/superseded); unmatched rows survive only under
    ``insert``."""
    from pyspark.sql import functions as F

    mark = "__matched"
    while mark in target.columns or mark in source.columns:
        mark += "_"
    target_cols = target.columns
    tgt = target.withColumn(mark, F.lit(True)).alias("target")
    j = source.alias("source").join(tgt, on, "left")
    matched = F.col(f"target.{mark}").isNotNull()
    fire = matched
    if matched_condition is not None:
        fire = matched & F.coalesce(
            F.expr(matched_condition), F.lit(False)
        )
    keep = (fire | ~matched) if insert else fire
    proj = []
    for c in target_cols:
        if c in on:
            proj.append(F.col(c))
        elif not update_set:
            # SET *: matched rows take the whole source row — identical
            # to the insert branch, so no CASE is needed (source shape
            # was validated against the target upstream).
            proj.append(F.col(f"source.{c}").alias(c))
        else:
            upd = (
                F.expr(update_set[c])
                if c in update_set
                else F.col(f"target.{c}")
            )
            if insert:
                upd = F.when(matched, upd).otherwise(F.col(f"source.{c}"))
            proj.append(upd.alias(c))
    return j.filter(keep).select(*proj)


def _merge_into_mor(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str,
    when_not_matched: str,
    branch: str,
    partition_by: list[str] | None,
    stats_cols: list[str] | None = None,
    del_stats: bool = True,
    update_set: dict[str, str] | None = None,
    matched_condition: str | None = None,
) -> int:
    """The merge-on-read commit body (see ``merge_into`` docstring):
    writes the source's KEYS as an equality-delete file (``e{N}-…/``)
    and the admitted source rows as an insert delta (``d{N}-…/``), then
    appends ONE delta entry carrying both — O(batch) bytes per merge,
    never a table restatement.

    ``del_stats`` (default on, round 15 — VERDICT r14 ask #1): record
    the KEY columns' [min, max] over the delete file in the commit's
    ``dels`` entry, the metadata ``read_pruned`` needs to skip delete
    files provably disjoint from a scan. One extra O(batch) agg job per
    merge (folded into the delta's stats job on the update path); a
    latency-critical CDC loop can disable it and pay full delete
    application on pruned reads instead. Stats cover ONLY the equality
    key columns: a source row's non-key values (including partition
    columns) do not bound the matched TARGET row's values, so recording
    them could prune a delete whose victims lie elsewhere — key
    equality is exactly what makes the key ranges sound. Clause matrix:

    - update+insert: delta = whole source (no target read needed —
      deleting an absent key is a no-op, so source keys over-delete
      harmlessly and the delta restores every source row).
    - update+ignore: delta = source ∩ target keys (semi; target READ,
      not rewritten).
    - delete+insert: delta = source-only keys (anti).
    - delete+ignore: no delta — the commit is the delete file alone.

    With ``matched_condition``, the target is read to evaluate the
    clause gate; the delete-key set covers only condition-true matches
    (an untouched matched row must NOT be deleted), and for update
    actions the delta (condition-true post-action rows + any inserts)
    still doubles as the delete file — deleting a source-only insert's
    key is a no-op.
    """
    _refs, parent_v, parent_entry, head = _plan_commit(table_path, branch)
    recorded = parent_entry.get("partition_by", "unknown")
    layout = (
        partition_by
        if partition_by is not None
        else (recorded if recorded != "unknown" else None)
    )
    _check_partition_layout(parent_entry, layout)
    version = head + 1
    # ``explicit_del_keys``: the delete-key frame when the delta dir
    # cannot double as the delete file (delete actions — their victims'
    # keys are exactly what the delta does NOT carry). None on update
    # paths, where the delta's key columns ARE the delete set.
    explicit_del_keys: DataFrame | None = None
    if (
        when_matched == "update"
        and (matched_condition is not None or update_set)
    ):
        # WHEN MATCHED AND <cond> / SET-clause update: the gate (or the
        # unlisted columns) needs the target, so it is read — ONCE, via
        # the one-pass left-outer delta (r17; the old inner ∪ anti pair
        # scanned the target twice inside the delta's write job). The
        # commit stays O(batch): delete keys + delta, and the delta's
        # keys (condition-true matches + any inserts) still double as
        # the delete file below.
        target = read_ref(spark, table_path, branch)
        delta = _one_pass_update_delta(
            target, source, on, update_set, matched_condition,
            insert=(when_not_matched == "insert"),
        )
    elif matched_condition is not None:
        # Conditional DELETE: the victims' keys are what the delta does
        # NOT carry, so a real key file is written — two output files
        # mean two write jobs either way; each probe reads the target
        # once.
        from pyspark.sql import functions as F

        target = read_ref(spark, table_path, branch)
        joined = _matched_join(target, source, on)
        cond_rows = joined.filter(F.expr(matched_condition))
        explicit_del_keys = cond_rows.select(*on)
        delta = (
            source.join(target.select(*on), on, "left_anti")
            if when_not_matched == "insert"
            else None
        )
    elif when_matched == "update" and when_not_matched == "insert":
        delta = source
    elif when_matched == "update":  # ignore inserts
        target = read_ref(spark, table_path, branch)
        delta = source.join(target.select(*on), on, "left_semi")
    elif when_not_matched == "insert":  # delete matched, insert new
        target = read_ref(spark, table_path, branch)
        delta = source.join(target.select(*on), on, "left_anti")
    else:  # delete matched, ignore new: the delete file IS the commit
        delta = None
    if when_matched == "delete" and explicit_del_keys is None:
        explicit_del_keys = source.select(*on)
    ddir = None
    resolve_delta_stats = None
    if delta is not None:
        # Stats ride the write job (r16, _stats_observer): the delta
        # plan — which on SET-clause/conditional paths reads the target
        # and joins — used to run a SECOND time for the stats agg, the
        # per-micro-batch double evaluation st30/st37 paid on every
        # trigger. ``want`` covers both the delta's pruning stats and
        # (when the delta doubles as the delete file) the key ranges.
        want_delta = sorted(
            set(stats_cols or [])
            | (set(on) if del_stats and explicit_del_keys is None else set())
        )
        ddir = _data_dir(table_path, "d", version)
        wdf, resolve_delta_stats = _stats_observer(delta, want_delta)
        w = wdf.write.mode("overwrite")
        if layout:
            w = w.partitionBy(*layout)
        w.parquet(ddir)
    del_entry: dict = {"on": list(on), "v": version}
    if explicit_del_keys is None:
        # The delta's key column IS the delete-key set for update
        # merges (update+insert: delta = source; update+ignore: delta =
        # matched source, and deleting only matched keys is equivalent
        # since absent keys delete as no-ops) — so the DELTA DIRECTORY
        # doubles as the equality-delete file: readers select just the
        # key columns from it (parquet column pruning makes that a
        # key-column scan), and the merge writes ONE directory, the
        # same write-job count as CoW at O(batch) bytes. Iceberg's
        # analogue: the delete file referencing the data file's keys.
        del_dir = ddir
        # The observation on the delta's write job covered both the
        # delta's pruning stats and the delete file's key ranges (the
        # delete keys ARE the delta's key columns here) — zero extra
        # jobs.
        allstats = resolve_delta_stats() if resolve_delta_stats else None
        if allstats:
            entry_stats = (
                {c: allstats[c] for c in stats_cols} if stats_cols else None
            )
            if del_stats:
                del_entry["stats"] = {c: allstats[c] for c in on}
        else:
            entry_stats = None
    else:
        # delete-matched merges remove keys their delta does NOT carry
        # (delete+insert: matched keys are deleted, delta holds only
        # source-new rows; delete+ignore: no delta at all; conditional
        # delete: only condition-true matched keys) — a real
        # equality-delete key file is required. Key-range stats ride
        # the key file's own write job.
        del_dir = _data_dir(table_path, "e", version)
        kdf, resolve_key_stats = _stats_observer(
            explicit_del_keys, list(on) if del_stats else []
        )
        kdf.write.mode("overwrite").parquet(del_dir)
        if del_stats:
            del_entry["stats"] = resolve_key_stats()
        delta_stats = resolve_delta_stats() if resolve_delta_stats else None
        entry_stats = (
            {c: delta_stats[c] for c in stats_cols}
            if stats_cols and delta_stats
            else None
        )
    del_entry["path"] = del_dir
    # The delta item's stats describe the delta only (the delete file
    # carries its own key-range stats in the dels record — round 15); a
    # pruned read skips the merge's insert delta on value ranges like
    # any append, and skips the delete file when provably irrelevant.
    entry = {
        "version": version,
        "ts_ms": int(time.time() * 1000),
        "adds": [_item(ddir, version, entry_stats)] if ddir else [],
        "dels": [del_entry],
        "parent": parent_v,
        "partition_by": layout,
    }
    _append_commit(
        table_path,
        entry,
        expected_head=head,
        move_branch=branch,
        expected_branch_v=parent_v,
    )
    return version


def mor_debt(table_path: str, ref: str = "main") -> int:
    """How many equality-delete files the ref head's scan must apply —
    the merge-on-read READ-AMPLIFICATION gauge m28-style compaction
    planners poll: each unit is one anti-join on every read, so a
    maintenance job triggers ``compact_mor`` when debt crosses its
    threshold. Metadata-only."""
    return len(_resolve_at(table_path, _resolve_ref(table_path, ref))[1])


def mor_dels_table(table_path: str, ref: str = "main") -> list[dict]:
    """The outstanding-delete-file INVENTORY at a ref head — the
    observability twin of ``m47_snapshots_history_table`` for MoR debt
    (round 15): one record per equality-delete file with its commit
    version, key columns, committed key ranges (or their absence — a
    stat-less delete is the standing full-scan tax the inventory
    exists to surface), and how many earlier data dirs it can apply
    to. Metadata-only; the input a maintenance dashboard renders and
    ``mor_maintenance_plan`` decides from."""
    data, dels = _resolve_at(table_path, _resolve_ref(table_path, ref))
    out = []
    for dp, on, dv, ds in dels:
        rec = {
            "version": dv,
            "key_cols": list(on),
            "has_stats": bool(ds),
            "applicable_dirs": sum(1 for _p, v, _s in data if v < dv),
        }
        for c in on:
            rng = (ds or {}).get(c)
            rec[f"lo_{c}"] = rng[0] if rng else None
            rec[f"hi_{c}"] = rng[1] if rng else None
        out.append(rec)
    return out


def mor_maintenance_plan(
    table_path: str,
    ref: str = "main",
    debt_threshold: int = 4,
    overlap_budget: int | None = None,
) -> dict:
    """The m28 packing-planner pattern applied to MoR debt (round 15,
    VERDICT r14 ask #1): turn ``mor_debt`` + the delete files' key-range
    stats into a COMPACTION DECISION, metadata-only — the input a
    maintenance scheduler polls to decide when ``compact_mor``'s
    one-off table rewrite is cheaper than the standing per-read
    anti-join tax.

    The gauge that matters is not the delete COUNT but the LIVE
    OVERLAP: a delete file provably disjoint from every earlier data
    dir (by the same key-range proofs ``read_pruned`` skips on) costs
    readers nothing, while a stat-less delete joins every scan forever.
    ``overlap_pairs`` counts (delete × earlier-data-dir) pairs no proof
    kills — the number of anti-join inputs a full unpredicated read
    pays. Decision: ``compact`` when the debt crosses
    ``debt_threshold`` or overlap exceeds ``overlap_budget`` (default:
    4 × data-dir count, i.e. reads pay ≥4 extra join inputs per dir);
    else ``hold``.

    Returns ``{"debt", "statless_dels", "data_dirs", "overlap_pairs",
    "applicable_pairs", "decision"}``."""
    data, dels = _resolve_at(table_path, _resolve_ref(table_path, ref))
    statless = 0
    overlap_pairs = 0
    applicable_pairs = 0
    for _dp, on, dv, ds in dels:
        earlier = [(p, v, s) for p, v, s in data if v < dv]
        applicable_pairs += len(earlier)
        if not ds:
            statless += 1
            overlap_pairs += len(earlier)
            continue
        for _p, _v, s in earlier:
            dead = False
            for c in on:
                drng = ds.get(c)
                rng = (s or {}).get(c)
                if (
                    drng is not None
                    and rng is not None
                    and None not in (drng[0], drng[1], rng[0], rng[1])
                    and (rng[1] < drng[0] or rng[0] > drng[1])
                ):
                    dead = True
                    break
            if not dead:
                overlap_pairs += 1
    budget = (
        overlap_budget
        if overlap_budget is not None
        else 4 * max(len(data), 1)
    )
    decision = (
        "compact"
        if len(dels) >= debt_threshold or overlap_pairs > budget
        else "hold"
    )
    return {
        "debt": len(dels),
        "statless_dels": statless,
        "data_dirs": len(data),
        "overlap_pairs": overlap_pairs,
        "applicable_pairs": applicable_pairs,
        "decision": decision,
    }


def mor_changes(
    spark: SparkSession, table_path: str, version: int
) -> tuple[DataFrame | None, DataFrame | None, list[str] | None]:
    """The row-level CDC export of ONE merge-on-read commit:
    ``(inserts, delete_keys, on)`` — inserts scan just the commit's
    delta directories, delete_keys scan just its equality-delete files,
    ``on`` names the key columns (None when the commit carried no
    deletes). This is Iceberg's changelog-with-deletes view of a v2
    commit: a downstream CDC consumer replays O(changed bytes), never
    the table — the physical records, so a key the merge deleted that
    was never present still appears as a delete (a no-op for any
    consistent consumer, exactly like Iceberg's equality-delete
    semantics)."""
    by_v = _by_version(_read_log(table_path))
    if version not in by_v:
        raise ValueError(f"version {version} not found")
    e = by_v[version]
    ins = _read_dirs(spark, [x[0] for x in e["adds"]]) if e.get("adds") else None
    dels = e.get("dels", [])
    delk = (
        _read_dirs(spark, [d["path"] for d in dels]) if dels else None
    )
    on = list(dels[0]["on"]) if dels else None
    return ins, delk, on


def compact_mor(
    spark: SparkSession,
    table_path: str,
    branch: str = "main",
    partition_by: list[str] | None = None,
) -> int:
    """Fold merge-on-read debt: materialize the branch head's
    delete-applied state as ONE restated snapshot (``commit_snapshot_ref``
    — ancestry preserved, time travel to pre-compaction versions still
    resolves their delete files until expiry reclaims them). This is the
    lazy half of the MoR contract — merges pay O(batch) at write time,
    compaction pays the table rewrite ONCE per maintenance window
    instead of once per merge, and readers between compactions pay one
    anti-join per outstanding delete file (``mor_debt``). Real Iceberg:
    ``rewrite_data_files`` + ``rewrite_position_delete_files``."""
    merged = read_ref(spark, table_path, branch)
    return commit_snapshot_ref(
        merged, table_path, branch, partition_by=partition_by
    )


def read_ref(spark: SparkSession, table_path: str, ref: str) -> DataFrame:
    """Read a table AT a named ref — Nessie's ``table@branch`` /
    ``table@tag`` addressing. Resolution is two metadata lookups; the
    scan covers exactly the ref head's file set."""
    return read_snapshot_dirs(
        spark, table_path, version=_resolve_ref(table_path, ref)
    )


def parse_at_ref(name: str) -> tuple[str, str]:
    """Split Nessie's ``table@ref`` addressing sugar into (table, ref)
    — the reference syntax users type (``my_table@etl``, ``sales@audit``;
    blog-zero-cost-data-lakehouse.md:373-397 exposes the same ``@ref``
    addressing on every tree endpoint). A name without ``@`` addresses
    ``main`` (Nessie's default-branch rule). VERDICT r11 ask #5."""
    table, sep, ref = name.partition("@")
    if not sep:
        return name, "main"
    if not table or not ref or "@" in ref:
        raise ValueError(
            f"malformed table@ref address {name!r}: expected "
            "'<table>@<branch-or-tag>' with exactly one '@'"
        )
    return table, ref


def read_at(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Read ``<table>@<ref>`` under ``base_dir`` — the one-call sugar
    for ``read_ref(spark, base_dir/table, ref)``; ``<table>`` alone
    reads main. Two metadata lookups, then exactly the ref head's file
    set is scanned."""
    table, ref = parse_at_ref(name)
    return read_ref(spark, os.path.join(base_dir, table), ref)


#: ``table@ref`` token in SQL text: identifier '@' branch-or-tag name.
_AT_REF_SQL_TOKEN = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)@([A-Za-z0-9_][A-Za-z0-9_.\-]*)"
)
#: Single-quoted SQL string literal (with '' escapes) — split on these
#: so a literal like 'user@example.com' is never rewritten.
_SQL_STRING_LITERAL = re.compile(r"('(?:[^']|'')*')")


def resolve_at_ref_sql(sql: str) -> tuple[str, dict[str, tuple[str, str]]]:
    """Rewrite Nessie-style ``table@ref`` addresses in a SQL string to
    plain view identifiers (VERDICT r12 ask #6: Nessie's Spark SQL
    extensions accept ``SELECT … FROM events@audit`` in SQL text —
    blog-zero-cost-data-lakehouse.md:373-397 — while Spark's parser
    rejects the ``@``).

    Returns (rewritten_sql, {view_name: (table, ref)}). Pure text
    transform, separated from execution so it unit-tests without a
    session. Single-quoted string literals are split out first and
    passed through untouched, so ``@`` inside data (emails, handles)
    never rewrites; occurrences anywhere else follow the same rule as
    Nessie's extension (the address is valid wherever a table name is).
    """
    views: dict[str, tuple[str, str]] = {}

    def _sub(m: re.Match) -> str:
        table, ref = parse_at_ref(m.group(0))
        view = "__at_ref__{}__{}".format(
            table, ref.replace(".", "_").replace("-", "_")
        )
        views[view] = (table, ref)
        return view

    out = []
    for part in _SQL_STRING_LITERAL.split(sql):
        if part.startswith("'"):
            out.append(part)
        else:
            out.append(_AT_REF_SQL_TOKEN.sub(_sub, part))
    return "".join(out), views


def sql_at_ref(spark: SparkSession, base_dir: str, sql: str) -> DataFrame:
    """Execute SQL text containing ``table@ref`` addresses against the
    snapshot catalog under ``base_dir`` — the SQL-text spelling of
    ``read_at`` (m44 closed the Python-API spelling; this closes the
    SQL one). Each distinct address becomes a temp view bound to the
    ref head AT CALL TIME (the ref resolves once — a concurrent commit
    mid-query cannot tear the read), then the rewritten text runs
    through ``spark.sql``. Cost: name resolution + two metadata lookups
    per distinct address; the scans cover exactly each ref head's file
    set."""
    rewritten, views = resolve_at_ref_sql(sql)
    for view, (table, ref) in views.items():
        read_ref(spark, os.path.join(base_dir, table), ref).createOrReplaceTempView(view)
    return spark.sql(rewritten)


def merge_branch(
    table_path: str, src: str, into: str = "main", ts_ms: int | None = None
) -> int:
    """Merge branch ``src`` into ``into`` — Nessie's merge semantics at
    file granularity, in three regimes:

    - **No-op**: ``src``'s head is ``into``'s head or an ancestor of it
      (already merged / up to date) — returns ``into``'s head without
      committing, as git and Nessie do (ADVICE r9: this used to raise
      'non-fast-forward' or append a redundant commit).
    - **Fast-forward**: ``into``'s head is an ancestor of ``src``'s —
      a metadata-only commit on the target carrying the source delta.
    - **Diverged (content-aware, VERDICT r9 ask #3)**: when BOTH sides
      only ADDED files since their merge base (the common concurrent-
      ingest case — two appenders), the merge commits the target's set
      plus the source's additions. If either side REWROTE files the
      base had (an overwrite/rollback), the touched content genuinely
      conflicts and this raises listing the conflicting paths —
      Nessie's per-key conflict detection, with data directories as
      the keys.

    O(branch length) driver-side walks; zero data bytes moved."""
    refs = _ensure_main(table_path, _read_refs(table_path))
    for r in (src, into):
        if r not in refs["branches"]:
            raise ValueError(f"unknown branch {r!r}")
    src_v, into_v = refs["branches"][src], refs["branches"][into]
    log = _read_log(table_path)
    by_v = _by_version(log)
    head = log[-1]["version"]
    version = head + 1

    def _segment_has_dels(head_v: int, stop_vs: set[int]) -> bool:
        # Merge-on-read commits in the segment being merged: their
        # delete files' ORDERING is version-relative, and renumbering
        # them onto another branch head would re-order which data they
        # apply to — the file-granularity merge cannot represent that.
        # Raise with the remedy (compact first), Nessie-style honesty.
        for v in _ancestry(by_v, head_v):
            if v in stop_vs:
                return False
            if by_v[v].get("dels"):
                return True
        return False

    src_chain = list(_ancestry(by_v, src_v))
    if into_v in src_chain and into_v != src_v:
        # Fast-forward: target did not move since the branch point.
        if _segment_has_dels(src_v, {into_v}):
            raise ValueError(
                f"cannot merge {src!r} into {into!r}: the source "
                "segment contains merge-on-read (row-delete) commits "
                f"whose delete ordering cannot be replayed; run "
                f"compact_mor on {src!r} first"
            )
        src_data, src_dels = _resolve(by_v, src_v)
        into_set = {x[0] for x in _resolve(by_v, into_v)[0]}
        if into_set.issubset(x[0] for x in src_data):
            entry: dict = {
                "adds": [
                    _item(p, version, st)
                    for p, _v, st in src_data
                    if p not in into_set
                ],
                "parent": into_v,
            }
        else:  # a rollback in the chain broke pure addition: materialize
            entry = {**_materialize(src_data, src_dels), "parent": into_v}
        entry.update(
            version=version,
            ts_ms=int(time.time() * 1000) if ts_ms is None else ts_ms,
            partition_by=by_v[src_v].get("partition_by"),
        )
        # Only the TARGET pointer advances — git and Nessie both leave
        # the source branch where it was after a merge (round-9
        # self-review: the first cut moved both, a semantics deviation
        # no oracle could see because no registered query reads the
        # source ref post-merge).
        _append_commit(
            table_path, entry, expected_head=head, move_branch=into,
            expected_branch_v=into_v,
        )
        return version

    into_chain = list(_ancestry(by_v, into_v))
    if src_v in into_chain:
        # Up to date (includes src_v == into_v): nothing to merge.
        return into_v

    # Diverged. Merge base = into's nearest ancestor on src's chain.
    src_set = set(src_chain)
    base_v = next((v for v in into_chain if v in src_set), None)
    if base_v is None:
        raise ValueError(
            f"branches {src!r} and {into!r} share no common ancestor; "
            "merge is undefined"
        )
    if _segment_has_dels(src_v, {base_v}) or _segment_has_dels(
        into_v, {base_v}
    ):
        raise ValueError(
            f"cannot merge {src!r} into {into!r}: merge-on-read "
            "(row-delete) commits since the merge base cannot be "
            "replayed at file granularity; run compact_mor first"
        )
    base_paths = {x[0] for x in _resolve(by_v, base_v)[0]}
    src_data = _resolve(by_v, src_v)[0]
    src_paths = {x[0] for x in src_data}
    into_paths = {x[0] for x in _resolve(by_v, into_v)[0]}
    rewritten = sorted((base_paths - src_paths) | (base_paths - into_paths))
    if rewritten:
        raise ValueError(
            f"cannot merge {src!r} into {into!r}: files the merge base "
            f"v{base_v} referenced were rewritten on one side "
            f"(conflicting paths: {rewritten}); resolving rewritten "
            "content needs a rebase"
        )
    _check_partition_layout(by_v[into_v], by_v[src_v].get("partition_by"))
    adds = [
        _item(p, version, st)
        for p, _v, st in src_data
        if p not in base_paths and p not in into_paths
    ]
    if not adds:  # source's additions all present (e.g. transplanted over)
        return into_v
    _append_commit(
        table_path,
        {
            "version": version,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            "adds": adds,
            "parent": into_v,
            "merged_from": src_v,
            "partition_by": by_v[into_v].get("partition_by"),
        },
        expected_head=head,
        move_branch=into,
        expected_branch_v=into_v,
    )
    return version


def transplant(
    table_path: str, src_version: int, onto: str = "main",
    ts_ms: int | None = None,
) -> int:
    """Nessie ``transplant`` (cherry-pick): apply ONE commit's own delta
    onto another branch without its siblings — the delta is the file-set
    difference against the commit's parent, so the operation is
    metadata-only like every other ref op. Only append-shaped commits
    (those with a recorded parent and a pure-addition file set) are
    transplantable; an overwrite rewrote files, so its 'delta' is not
    well-defined against a different base — raises, which is also
    Nessie's behavior for non-trivially-conflicting transplants."""
    refs = _ensure_main(table_path, _read_refs(table_path))
    if onto not in refs["branches"]:
        raise ValueError(f"unknown branch {onto!r}")
    log = _read_log(table_path)
    by_v = _by_version(log)
    if src_version not in by_v:
        raise ValueError(f"version {src_version} not found")
    src = by_v[src_version]
    if "parent" not in src:
        raise ValueError(
            f"commit v{src_version} has no recorded parent; only "
            "ref-API append commits are transplantable"
        )
    if src.get("dels"):
        raise ValueError(
            f"commit v{src_version} is a merge-on-read (row-delete) "
            "commit; its delete file's ordering is version-relative "
            "and cannot be transplanted — compact first"
        )
    parent_paths = {x[0] for x in _resolve(by_v, src["parent"])[0]}
    src_data = _resolve(by_v, src_version)[0]
    if not parent_paths.issubset(x[0] for x in src_data):
        raise ValueError(
            f"commit v{src_version} rewrote files (overwrite); "
            "its delta is undefined against another base"
        )
    onto_v = refs["branches"][onto]
    onto_paths = {x[0] for x in _resolve(by_v, onto_v)[0]}
    head = log[-1]["version"]
    version = head + 1
    # the delta joins ``onto`` at the new version: deletes committed on
    # ``onto`` before it must not apply to it
    delta = [_item(p, version, st) for p, _v, st in src_data if p not in parent_paths]
    if any(x[0] in onto_paths for x in delta):
        raise ValueError("transplant target already contains the delta")
    _append_commit(
        table_path,
        {
            "version": version,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            "adds": delta,
            "parent": onto_v,
            "partition_by": by_v[onto_v].get("partition_by"),
        },
        expected_head=head,
        move_branch=onto,
        expected_branch_v=onto_v,
    )
    return version


def delete_branch(table_path: str, name: str) -> None:
    """Nessie ``DROP BRANCH``: the audit-failed half of branch-WAP —
    abandoning a branch is one ref deletion; its commits stay in the
    log (addressable by version for forensics) until snapshot expiry /
    orphan cleanup reclaims them, exactly Nessie's unreachable-commit GC
    story (and since round 10, expiry protects REACHABLE commits, so
    this deletion is what actually frees them). ``main`` is protected."""
    if name == "main":
        raise ValueError("cannot delete main")

    def mutate(refs: dict) -> None:
        if name not in refs["branches"]:
            raise ValueError(f"unknown branch {name!r}")
        del refs["branches"][name]

    _update_refs(table_path, mutate)


def delete_tag(table_path: str, name: str) -> None:
    """Nessie ``DROP TAG`` — the explicit release of a tag's 'addressable
    forever' pin; after this (and only after this) the tagged snapshot
    becomes expirable like any other unreachable commit."""
    def mutate(refs: dict) -> None:
        if name not in refs["tags"]:
            raise ValueError(f"unknown tag {name!r}")
        del refs["tags"][name]

    _update_refs(table_path, mutate)


def list_refs(table_path: str) -> dict:
    """Branches and tags with their pinned versions (Nessie's ref
    listing)."""
    return _read_refs(table_path)


def remove_orphan_dirs(
    table_path: str, older_than_ms: int | None = None
) -> list[str]:
    """Iceberg's ``remove_orphan_files`` maintenance procedure: delete
    data directories (``v{N}/`` / ``d{N}/`` layout) that NO snapshot in
    the commit log references — the debris of commits that wrote data but
    died before the log swap (see commit_snapshot's crash note). Pure
    metadata reconciliation: referenced-set from the log, candidate-set
    from a directory listing, difference removed. Returns removed paths.
    At 100 TB the listing is the only cost.

    Every dir any log entry names counts as referenced (``_named_dirs``:
    the union of every entry's resolved set, with no resolution) — and
    since refs point at log entries that ``expire_snapshots_dirs``
    refuses to prune, a tagged snapshot's directories can never be
    collected here while the tag lives.

    ``older_than_ms`` is Iceberg's safety window (epoch-ms cutoff):
    directories whose mtime is at or after the cutoff are NOT deleted,
    so a concurrent in-flight commit (data written, log swap pending)
    cannot lose its files. With the default ``None`` there is NO window —
    only safe when called from the single writer with no commit in
    flight (the shape m21 exercises); any concurrent-writer deployment
    must pass a cutoff of now minus several hours, as real Iceberg
    defaults to (``older_than = 3 days``)."""
    pat = re.compile(r"^[vde]\d+(-[0-9a-f]{8})?$")
    candidates = [
        os.path.normpath(os.path.join(table_path, name))
        for name in sorted(os.listdir(table_path))
        if pat.match(name) and os.path.isdir(os.path.join(table_path, name))
    ]
    return _remove_unnamed(
        candidates, _named_dirs(_read_log(table_path)), older_than_ms
    )


def rollback_to(table_path: str, version: int, ts_ms: int | None = None) -> int:
    """Roll the table back to ``version`` — Iceberg's
    ``rollback_to_snapshot``: a METADATA-ONLY commit whose file set is the
    target snapshot's (no data is read, copied, or deleted; the abandoned
    snapshots stay addressable for time travel until expired). Returns the
    new current version number. O(1) regardless of table size — at 100 TB
    undoing a bad batch is one log append, not a restore job. Like the
    other pre-ref writers it is a ``main`` commit: parented on ``main``'s
    head, moving the pointer only when ``_refs.json`` pins ``main``, so
    ``read_ref(main)`` and the default read agree."""
    restated = _materialize(*_resolve_at(table_path, version))
    refs, parent_v, _parent_entry, head = _plan_commit(table_path, "main")
    with _locked_state(table_path) as st:
        layout = st.by_v[version].get("partition_by")
    _append_commit(
        table_path,
        {
            "version": head + 1,
            "ts_ms": int(time.time() * 1000) if ts_ms is None else ts_ms,
            **restated,
            "parent": parent_v,
            "partition_by": layout,
        },
        expected_head=head,
        move_branch="main" if "main" in refs["branches"] else None,
        expected_branch_v=parent_v,
    )
    return head + 1


def expire_snapshots_dirs(
    table_path: str, older_than_ms: int, keep_last: int = 1,
    truncate_history: bool = False,
) -> list[int]:
    """Expire snapshots committed before ``older_than_ms``, always
    retaining the ``keep_last`` most recent — Iceberg's
    ``expire_snapshots(older_than, retain_last)`` contract — and, since
    round 10, always retaining every REF-REACHABLE version (tags, branch
    heads, and their full ancestry; VERDICT r9 ask #1): a version a tag
    pins is addressable forever until the tag is deleted, and a branch's
    ancestry must survive so merges and idempotency walks stay sound.
    Returns the expired version numbers; their directories are deleted
    (where no retained snapshot shares them) and the commit log is
    rewritten atomically under the commit lock.

    Retained entries whose parent is expired are MATERIALIZED (their
    resolved file set is restated inline, ``_materialize``) so they stay
    readable without the pruned ancestor.

    ``truncate_history``: streaming retention mode — ref protection
    covers only branch heads and tag pins, not their ancestry, so a
    long-lived linear history (one commit per micro-batch) actually
    truncates to keep_last + the ts window instead of being pinned
    forever by its own head's reachability. The retained boundary
    entries are materialized as usual. The idempotency window shrinks
    with the history: pick a cutoff beyond any possible batch replay."""
    return _expire_log(
        table_path, older_than_ms, keep_last, truncate_history,
        lambda by_v, e: _materialize(*_resolve(by_v, e["version"])),
        lambda entries: entries,
    )
