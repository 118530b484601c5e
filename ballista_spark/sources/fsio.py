"""Filesystem shim for the lakehouse metadata plane — one tiny URI-aware
IO surface (`read/write/list/move/exclusive-create`) with a local
fast-path, so `deltalog.py` / `iceberg.py` / `hudi.py` run their
transaction-log, manifest and staging IO on object storage, not just
the local disk.

Why this exists: the engine's design point is a 1000-executor cluster
whose tables live on s3://-class storage.  Data bytes always move
through Spark's own Hadoop connectors (``spark.read.parquet`` /
``df.write.parquet`` — pushdown, codegen, task parallelism intact), but
the METADATA plane (the Delta ``_delta_log`` JSON, Iceberg
``metadata/``+Avro manifests, Hudi ``.hoodie/``, parquet footer stats)
is pure-Python and was previously ``open()``/``os.*`` throughout —
local-only.  This module routes those sites through ``pyarrow.fs``
(same scheme aliasing as ``warc.py``: s3a→s3, gcs→gs, wasb→abfs, …)
while bare paths and ``file:`` URIs keep the plain-``os`` fast path,
byte-for-byte the previous behavior and cost.

The two-plane split is the delta-rs / delta-spark architecture: in
production BOTH planes must see the store (Spark via hadoop-aws etc.,
this module via pyarrow's builtin s3/gcs/azure/hdfs clients or a
registered custom filesystem).

Atomicity (the Delta LogStore pattern, now pluggable): commits need
put-if-absent.  Local filesystems get true ``open(..., "x")``
exclusive-create.  Object stores have no portable primitive — pyarrow
exposes none — so deployments register a :class:`LogStore` (atomic
put-if-absent over DynamoDB, conditional PUT, a database row, …) via
:func:`register_log_store`; every lakehouse commit for that scheme
routes through it.  :class:`SqliteLogStore` ships as the reference
implementation (and the documented 1:1 shape of a DynamoDB
coordinator).  Without one, :func:`create_exclusive` REFUSES by
default (``strict``, round 10 — the unsafe path is opt-in);
``set_commit_mode("warn")`` accepts single-writer check-then-write
with a one-time warning (the common scheduled-job shape).

Worker-safe: every function takes a full path/URI and resolves its
filesystem per call (cached per scheme+authority), so executor-side
code (the distributed footer-stats pass) uses the same entry points.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import warnings

__all__ = [
    "is_local",
    "register_filesystem",
    "LogStore",
    "SqliteLogStore",
    "register_log_store",
    "set_commit_mode",
    "read_bytes",
    "read_text",
    "write_bytes",
    "write_text",
    "create_exclusive",
    "open_input",
    "open_output",
    "listdir",
    "walk_files",
    "exists",
    "isdir",
    "mkdirs",
    "move",
    "remove",
    "remove_dir",
    "file_size",
    "mtime_ms",
    "stat_key",
]

# Hadoop-connector scheme -> pyarrow scheme (warc.py's table, shared
# spelling so both data and metadata planes accept the same URIs)
_SCHEME_ALIASES = {
    "s3a": "s3",
    "s3n": "s3",
    "gcs": "gs",
    "wasb": "abfs",
    "wasbs": "abfss",
    "viewfs": "hdfs",
}

#: test / deployment hook: scheme -> pyarrow FileSystem instance
_REGISTERED: dict[str, object] = {}
_FS_CACHE: dict[str, object] = {}
_LOCK = threading.Lock()
_warned_non_atomic = False


def register_filesystem(scheme: str, fs) -> None:
    """Route ``scheme://…`` through a caller-provided pyarrow
    FileSystem (tests use ``pyarrow.fs._MockFileSystem``; deployments
    can hand in a configured S3FileSystem).  The path passed to the
    filesystem is everything after ``scheme://``."""
    _REGISTERED[scheme.lower()] = fs


class LogStore:
    """Put-if-absent commit coordinator — the Delta LogStore pattern.

    Object stores have no portable atomic exclusive-create, so
    multi-writer commit safety needs an external coordination point
    (DynamoDB for S3, the conditional-PUT preconditions on GCS/Azure,
    a database row, …).  Implement :meth:`put_if_absent` over one of
    those and register it with :func:`register_log_store`; every
    lakehouse commit for that scheme then routes through it.  The
    interface is deliberately one method: winners write, losers get
    ``FileExistsError``, and everything else (retry loops, snapshot
    re-reads) already lives in the table formats' commit protocols.
    """

    def put_if_absent(self, path: str, data: bytes) -> None:
        """Write ``data`` at ``path`` iff nothing exists there;
        raise ``FileExistsError`` otherwise.  MUST be atomic under
        concurrent callers — that is the whole contract."""
        raise NotImplementedError


class _LocalLogStore(LogStore):
    """Local filesystems get true atomic ``open(..., "x")``."""

    def put_if_absent(self, path: str, data: bytes) -> None:
        p = _strip_file(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "xb") as f:
            f.write(data)


class SqliteLogStore(LogStore):
    """Reference NON-LOCAL commit coordinator: atomic put-if-absent
    through a shared SQLite database — genuinely atomic across
    processes (SQLite serializes the claiming INSERT), usable wherever
    all writers can reach one database file with working locks (local
    disk for single-host multi-process, a shared POSIX filesystem for
    small fleets).  It is also the documented SHAPE of a DynamoDB
    coordinator: the claiming ``INSERT`` maps 1:1 to ``PutItem`` with
    ``attribute_not_exists(path)``, the completion ``UPDATE`` to
    ``UpdateItem`` — swap those two calls and the protocol carries to
    S3 multi-writer unchanged (the delta-io S3DynamoDBLogStore recipe,
    delta.io PROTOCOL + storage docs).

    Commit protocol (crash-safe write-ahead):

    1. STAGE  — write ``data`` to ``<path>.tmp-<uuid>`` on the target
       store (a same-store sibling, so publish is a cheap copy).
    2. CLAIM  — atomically INSERT the path, recording the temp name.
       Exactly one concurrent writer succeeds; losers raise
       ``FileExistsError``.
    3. PUBLISH — copy temp → final path, mark the claim complete,
       drop the temp.

    A winner crashing between CLAIM and PUBLISH leaves the slot
    claimed but unpublished; ANY later ``put_if_absent`` on that path
    first COMPLETES the recorded winner (copies its temp into place)
    before raising ``FileExistsError`` — a crashed writer never wedges
    the log, exactly the recovery rule the DynamoDB LogStore
    documents."""

    def __init__(self, db_path: str):
        import sqlite3

        self._db = db_path
        con = sqlite3.connect(db_path, timeout=30)
        try:
            with con:
                con.execute(
                    "CREATE TABLE IF NOT EXISTS commits ("
                    "path TEXT PRIMARY KEY, tmp TEXT NOT NULL, "
                    "complete INTEGER NOT NULL DEFAULT 0)"
                )
        finally:
            con.close()

    def _connect(self):
        import sqlite3

        return sqlite3.connect(self._db, timeout=30)

    def put_if_absent(self, path: str, data: bytes) -> None:
        import sqlite3
        import uuid as _uuid

        if exists(path):  # fast path: slot visibly taken
            raise FileExistsError(path)
        tmp = f"{path}.tmp-{_uuid.uuid4().hex}"
        write_bytes(tmp, data)  # STAGE
        con = self._connect()
        try:
            try:
                with con:  # CLAIM (atomic: path is the primary key)
                    con.execute(
                        "INSERT INTO commits (path, tmp, complete) "
                        "VALUES (?, ?, 0)",
                        (path, tmp),
                    )
            except sqlite3.IntegrityError:
                remove(tmp, missing_ok=True)
                # losers must ALWAYS report the slot taken; recovery of
                # a crashed winner is best-effort on top (review
                # finding: a live winner finishing mid-recovery must
                # not surface as FileNotFoundError)
                try:
                    self._recover(con, path)
                finally:
                    raise FileExistsError(path) from None
            if exists(path):
                # the claim won but the OBJECT already exists.  Two
                # cases (review finding — they must not be conflated):
                # (a) a racing LOSER ran _recover and completed OUR
                #     claim from OUR staged temp — the bytes are ours,
                #     the commit STANDS, report success;
                # (b) a commit published outside this store (warn-mode
                #     history, a rebuilt db) slipped in between the
                #     fast pre-check and the claim — honor
                #     put-if-absent, never clobber committed history.
                # the read must tolerate racing a LIVE loser's _recover
                # mid-publish: write_bytes makes the path visible at
                # open time (empty/partial until close) on both the
                # posix and mock filesystems, so a single read here can
                # observe torn bytes and misclassify OUR OWN published
                # commit as foreign — observed once as an all-losers
                # outcome in the 12-writer race test under heavy host
                # load (r11).  Only in-protocol writers exist for a
                # claimed path and they all carry OUR staged bytes, so
                # retry briefly before deciding; a durably-foreign
                # object (case b) still refuses after ~0.08 s.
                published_ours = False
                for attempt in range(5):
                    if attempt:
                        time.sleep(0.02)
                    try:
                        published_ours = read_bytes(path) == data
                    except OSError:
                        published_ours = False
                    if published_ours:
                        break
                with con:
                    con.execute(
                        "UPDATE commits SET complete = 1 WHERE path = ?",
                        (path,),
                    )
                remove(tmp, missing_ok=True)
                if published_ours:
                    return
                raise FileExistsError(path)
            write_bytes(path, data)  # PUBLISH
            with con:
                con.execute(
                    "UPDATE commits SET complete = 1 WHERE path = ?", (path,)
                )
        finally:
            con.close()
        remove(tmp, missing_ok=True)

    def _recover(self, con, path: str) -> None:
        """Complete a claimed-but-unpublished commit (winner crashed
        between CLAIM and PUBLISH) so later readers see it.  Tolerates
        racing the LIVE winner: if its temp vanishes mid-copy the
        winner published (or is about to) — either way the slot is
        taken and there is nothing left to complete."""
        row = con.execute(
            "SELECT tmp, complete FROM commits WHERE path = ?", (path,)
        ).fetchone()
        if row is None or row[1]:
            return
        tmp = row[0]
        if not exists(path):
            if not exists(tmp):
                return  # winner still mid-stage; nothing to complete yet
            try:
                staged = read_bytes(tmp)
            except (FileNotFoundError, OSError):
                return  # live winner just published and reaped its temp
            if not exists(path):  # re-check: don't clobber the winner
                write_bytes(path, staged)
        with con:
            con.execute(
                "UPDATE commits SET complete = 1 WHERE path = ?", (path,)
            )
        remove(tmp, missing_ok=True)


#: scheme -> LogStore; local paths always use _LocalLogStore
_LOG_STORES: dict[str, LogStore] = {}

#: "strict" (default since round 10): non-local commits without a
#: registered LogStore REFUSE — object stores have no atomic
#: exclusive-create, so the unsafe check-then-write path is opt-in.
#: "warn": degrade to check-then-write with a one-time warning —
#: correct single-writer, unsafe multi-writer.
_COMMIT_MODE = "strict"


def register_log_store(scheme: str, store: LogStore) -> None:
    """Route exclusive-create commits for ``scheme://…`` through
    ``store`` (atomic put-if-absent).  Data/metadata reads and
    non-commit writes keep using the scheme's filesystem."""
    _LOG_STORES[scheme.lower()] = store


def set_commit_mode(mode: str) -> str:
    """``warn`` | ``strict`` (see _COMMIT_MODE); returns the previous
    mode so callers can restore it."""
    global _COMMIT_MODE
    if mode not in ("warn", "strict"):
        raise ValueError(f"commit mode must be warn|strict, got {mode!r}")
    prev = _COMMIT_MODE
    _COMMIT_MODE = mode
    return prev


def is_local(path: str) -> bool:
    if path.startswith("file:"):
        return True
    scheme, sep, _ = path.partition("://")
    return not sep or len(scheme) <= 1  # c:\... on windows counts local


def _strip_file(path: str) -> str:
    if path.startswith("file:"):
        path = path[5:]
        while path.startswith("//"):
            path = path[1:]
    return path


def _from_uri(uri: str):
    """pyarrow FileSystem.from_uri behind a patchable seam (the class
    itself is immutable — tests stub this)."""
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(uri)


def _resolve(path: str):
    """(fs_or_None, path-for-that-fs); None = local os fast-path."""
    if is_local(path):
        return None, _strip_file(path)
    scheme, _, rest = path.partition("://")
    scheme = scheme.lower()
    reg = _REGISTERED.get(scheme)
    if reg is not None:
        return reg, rest
    alias = _SCHEME_ALIASES.get(scheme, scheme)
    authority = rest.split("/", 1)[0]
    key = f"{alias}://{authority}"
    tail = rest.partition("/")[2]
    with _LOCK:
        cached = _FS_CACHE.get(key)
        if cached is None and "%" in tail:
            # '%' in an object key is LITERAL here (Hive/Spark
            # escapePathName partition dirs like p=a%20b, which Delta
            # add.path round-trips verbatim), but from_uri percent-
            # DECODES its input — feeding it the tail would resolve the
            # wrong key AND mint a fresh FileSystem per call (breaking
            # move()'s same-store identity check).  Learn the
            # authority's filesystem + path prefix from a tail-less
            # probe and derive the path textually like any warm call.
            fsys, root = _from_uri(key)
            cached = _FS_CACHE[key] = (fsys, root.rstrip("/"))
        if cached is None:
            fsys, path0 = _from_uri(f"{alias}://{rest}")
            # Cache from_uri's OWN authority->path-prefix split so every
            # later call under this authority derives paths the same way
            # (hdfs://nn:8020/t -> '/t' keeps prefix ''; s3://bucket/k ->
            # 'bucket/k' keeps 'bucket'; abfs container@account URIs keep
            # 'container', never the raw '@account' authority).  When
            # from_uri NORMALIZED the path (so the textual derivation
            # cannot reproduce it), cache nothing — a wrong prefix would
            # poison every later path under this authority.
            if tail and path0.endswith("/" + tail):
                _FS_CACHE[key] = (fsys, path0[: -len(tail) - 1])
            elif path0 == tail:
                _FS_CACHE[key] = (fsys, "")
            elif not tail:
                _FS_CACHE[key] = (fsys, path0)
            return fsys, path0
    fsys, prefix = cached
    if not tail:
        return fsys, (prefix or "/")
    return fsys, (f"{prefix}/{tail}" if prefix else "/" + tail)


def read_bytes(path: str) -> bytes:
    fsys, p = _resolve(path)
    if fsys is None:
        with open(p, "rb") as f:
            return f.read()
    with fsys.open_input_stream(p) as f:
        return f.read()


def read_text(path: str, encoding: str = "utf-8") -> str:
    return read_bytes(path).decode(encoding)


def write_bytes(path: str, data: bytes) -> None:
    fsys, p = _resolve(path)
    if fsys is None:
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)
        return
    _arrow_mkdirs(fsys, os.path.dirname(p))
    with fsys.open_output_stream(p) as f:
        f.write(data)


def write_text(path: str, text: str, encoding: str = "utf-8") -> None:
    write_bytes(path, text.encode(encoding))


def create_exclusive(path: str, data: bytes) -> None:
    """Put-if-absent: raises FileExistsError when ``path`` exists.
    Atomic on local filesystems (``open(..., "x")``) and through any
    :func:`register_log_store`-registered coordinator (ship-with
    reference: :class:`SqliteLogStore`); otherwise REFUSED by default
    (``strict``) — ``set_commit_mode("warn")`` opts into single-writer
    check-then-write with a one-time warning."""
    if is_local(path):
        _LocalLogStore().put_if_absent(path, data)
        return
    scheme = path.partition("://")[0].lower()
    store = _LOG_STORES.get(scheme)
    if store is not None:
        store.put_if_absent(path, data)
        return
    if _COMMIT_MODE == "strict":
        raise PermissionError(
            f"strict commit mode: no LogStore registered for scheme "
            f"{scheme!r} and exclusive-create on a non-local filesystem "
            "is not atomic — register_log_store() a put-if-absent "
            "coordinator (DynamoDB/conditional-PUT/db-row) or accept "
            "single-writer semantics with set_commit_mode('warn')"
        )
    global _warned_non_atomic
    if not _warned_non_atomic:
        _warned_non_atomic = True
        warnings.warn(
            "exclusive-create on a non-local filesystem is "
            "check-then-write, not atomic — concurrent writers on an "
            "object store need a LogStore coordination layer "
            "(register_log_store), or set_commit_mode('strict') to "
            "refuse unsafe commits",
            stacklevel=2,
        )
    if exists(path):
        raise FileExistsError(path)
    write_bytes(path, data)


def open_input(path: str):
    """Random-access binary reader (what ``pyarrow.parquet.ParquetFile``
    and the Avro codec need)."""
    fsys, p = _resolve(path)
    if fsys is None:
        return open(p, "rb")
    return fsys.open_input_file(p)


def open_output(path: str):
    fsys, p = _resolve(path)
    if fsys is None:
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        return open(p, "wb")
    _arrow_mkdirs(fsys, os.path.dirname(p))
    return fsys.open_output_stream(p)


def _arrow_mkdirs(fsys, p: str) -> None:
    if p:
        fsys.create_dir(p, recursive=True)


def _info(fsys, p: str):
    from pyarrow import fs as pafs

    return fsys.get_file_info([p])[0] if not isinstance(p, pafs.FileSelector) else None


def listdir(path: str, missing_ok: bool = True) -> list[str]:
    """Immediate child NAMES of a directory (files and dirs), like
    ``os.listdir``; missing directory -> [] when ``missing_ok``."""
    fsys, p = _resolve(path)
    if fsys is None:
        if missing_ok and not os.path.isdir(p):
            return []
        return os.listdir(p)
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(p.rstrip("/"), recursive=False,
                            allow_not_found=missing_ok)
    return [i.path.rsplit("/", 1)[-1] for i in fsys.get_file_info(sel)]


def walk_files(path: str) -> list[tuple[str, int]]:
    """All FILES below ``path`` recursively as ``(relative_path,
    size_bytes)`` with "/" separators — one listing call on object
    stores (vs an os.walk per directory)."""
    fsys, p = _resolve(path)
    out: list[tuple[str, int]] = []
    if fsys is None:
        for dirpath, _dirs, names in os.walk(p):
            for name in names:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, p).replace(os.sep, "/")
                out.append((rel, os.path.getsize(full)))
        return sorted(out)
    from pyarrow import fs as pafs

    base = p.rstrip("/")
    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    for i in fsys.get_file_info(sel):
        if i.type == pafs.FileType.File:
            out.append((i.path[len(base) + 1:], int(i.size or 0)))
    return sorted(out)


def exists(path: str) -> bool:
    fsys, p = _resolve(path)
    if fsys is None:
        return os.path.exists(p)
    from pyarrow import fs as pafs

    return fsys.get_file_info([p])[0].type != pafs.FileType.NotFound


def isdir(path: str) -> bool:
    fsys, p = _resolve(path)
    if fsys is None:
        return os.path.isdir(p)
    from pyarrow import fs as pafs

    return fsys.get_file_info([p])[0].type == pafs.FileType.Directory


def mkdirs(path: str) -> None:
    fsys, p = _resolve(path)
    if fsys is None:
        os.makedirs(p, exist_ok=True)
        return
    fsys.create_dir(p, recursive=True)


def move(src: str, dst: str) -> None:
    """Rename/move a single file, creating the destination's parents.
    Same-filesystem only (staging dirs live next to the table)."""
    sfs, sp = _resolve(src)
    dfs, dp = _resolve(dst)
    if sfs is None and dfs is None:
        os.makedirs(os.path.dirname(dp) or ".", exist_ok=True)
        os.rename(sp, dp)
        return
    if sfs is not dfs:
        raise ValueError(f"cross-filesystem move {src!r} -> {dst!r}")
    _arrow_mkdirs(sfs, os.path.dirname(dp))
    sfs.move(sp, dp)


def remove(path: str, missing_ok: bool = False) -> None:
    fsys, p = _resolve(path)
    if fsys is None:
        if missing_ok and not os.path.exists(p):
            return
        os.remove(p)
        return
    if missing_ok and not exists(path):
        return
    fsys.delete_file(p)


def remove_dir(path: str) -> None:
    """Recursive delete, ignore-errors (staging cleanup)."""
    fsys, p = _resolve(path)
    if fsys is None:
        shutil.rmtree(p, ignore_errors=True)
        return
    try:
        fsys.delete_dir(p)
    except FileNotFoundError:
        pass


def stat_key(path: str) -> tuple[int, int]:
    """(size_bytes, mtime_ms) from ONE stat call (cache keys — two
    separate helpers would double the metadata RPCs per path)."""
    fsys, p = _resolve(path)
    if fsys is None:
        st = os.stat(p)
        return int(st.st_size), int(st.st_mtime * 1000)
    info = _info(fsys, p)
    mt = info.mtime
    return (
        int(info.size or 0),
        int(mt.timestamp() * 1000) if mt is not None else 0,
    )


def file_size(path: str) -> int:
    fsys, p = _resolve(path)
    if fsys is None:
        return os.path.getsize(p)
    return int(_info(fsys, p).size or 0)


def mtime_ms(path: str) -> int:
    fsys, p = _resolve(path)
    if fsys is None:
        return int(os.path.getmtime(p) * 1000)
    mt = _info(fsys, p).mtime
    return int(mt.timestamp() * 1000) if mt is not None else 0
