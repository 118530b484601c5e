"""Delta-protocol table source — pure-Python transaction log, Spark data
plane.  Reads and writes a documented SUBSET of the open Delta Lake
protocol (the delta.io PROTOCOL.md spec) without any lakehouse jars:
the `_delta_log/` JSON commits and parquet checkpoints are metadata
(small, driver-side), while every data byte still moves through
``spark.read.parquet`` — the engine's standard scan path with pushdown,
pruning and whole-stage codegen intact.

Why this exists: at 100 TB, data does not arrive as loose parquet
directories — it arrives as *tables* with a transaction log, because a
directory listing of 10M files is (a) slow and (b) racy against
concurrent writers.  The log gives O(1) snapshot listing (one checkpoint
parquet + a few JSON tails), atomic commits, time travel, and per-file
column statistics that let a reader skip files before Spark ever lists
them.  ``connectors.read_delta`` covers deployments that DO have the
delta-spark jars; this module covers the (local, test, air-gapped) ones
that don't, with the same on-disk format.

Scale design:
- **Metadata is driver-side and checkpoint-bounded.**  Snapshot
  reconstruction reads ``_last_checkpoint`` → ONE parquet (the
  compacted action state at version V) → only the JSON commits after V.
  Cost is O(live files + tail commits), never O(all history).
- **File skipping before listing.**  ``filters`` are evaluated against
  the log's per-file min/max stats (and partition values) on the
  driver; a pruned file costs zero Spark work — no footer read, no
  task.  This is the lakehouse analogue of partition pruning, and it
  composes with it.
- **One Spark read for the whole snapshot.**  Delta writers lay
  partitions out hive-style (``col=value/``); when every live file
  matches that layout the snapshot reads as a single
  ``spark.read.option("basePath", root).parquet(*files)`` — partition
  columns derived by Spark, one scan node.  Non-hive layouts fall back
  to a per-partition-value union with literal columns (correct, more
  plan nodes; the fallback logs a warning naming the cost).
- **Commits are put-if-absent.**  ``{version:020d}.json`` is created
  with an exclusive-create open at the version the writer READ + 1; a
  losing racer re-reads the snapshot, fails if a winner conflicts with
  it, and otherwise retries on top (optimistic concurrency: the one
  loop ``occ.commit`` runs for Delta and Iceberg, through ``_commit``).
- **Filesystem-agnostic metadata plane** (round 8): every log/staging
  IO site routes through ``sources/fsio.py`` — plain paths keep the
  local ``os`` fast-path, URIs (s3://, hdfs://, + Hadoop spellings
  s3a://…) go through ``pyarrow.fs``.  Exclusive-create degrades to
  check-then-write on object stores (fsio warns; multi-writer S3
  deployments need the spec's LogStore coordination layer — documented,
  loud).  Footer-stat collection for large commits distributes as one
  tiny Spark job instead of a serial driver loop (``rewrite.per_file``).

Supported protocol subset (checked, not assumed): reader version ≤ 2
plus the columnMapping table feature (reader version 3 tables whose
readerFeatures are exactly that) — column-mapped tables (modes name/id)
READ correctly (physical parquet names resolved to the logical schema,
physically-keyed stats/partitionValues normalized for pruning); writes
to them refuse (this writer stages logical-named files).  No deletion
vectors, no generated columns.  A table demanding more raises with the
feature named rather than silently misreading.

The reference engine's source surface is CSV/Parquet/Avro file scans
(`rust/core/proto/ballista.proto:244-258`) with no table-format layer;
this module is beyond-parity capability for the training-data-pipeline
mandate (SURVEY §2).
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid
from collections.abc import Mapping
from dataclasses import dataclass, field
from urllib.parse import unquote as _unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ballista_spark.sources import fsio, occ, rewrite
from ballista_spark.sources.decodecache import DecodeCache
from ballista_spark.sources.dvbitmap import tombstones
from ballista_spark.sources.rewrite import decoded_file_path

__all__ = [
    "DeltaSnapshot",
    "read_delta_table",
    "read_delta_snapshot",
    "read_delta_changes",
    "read_delta_cdf",
    "write_delta_table",
    "compact_delta_table",
    "merge_delta_table",
    "delete_from_delta_table",
    "update_delta_table",
    "alter_delta_table",
    "vacuum_delta_table",
    "DeltaProtocolError",
    "DeltaConcurrentCommitError",
]

#: max reader/writer protocol versions this module implements
MAX_READER_VERSION = 2
MAX_WRITER_VERSION = 2

#: Delta truncates string stats at 32 chars (appending a tie-breaker on
#: max bounds); a 32-char string bound may be a truncation, so pruning
#: must not trust it as exact
_STRING_STATS_TRUNCATION = 32


class DeltaProtocolError(RuntimeError):
    """Table requires protocol features this subset does not implement."""


#: the Delta name of the one conflict error (``occ.commit`` raises it)
DeltaConcurrentCommitError = occ.ConcurrentCommitError


# ---------------------------------------------------------------------------
# log primitives (driver-side, tiny)


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def _commit_path(table_path: str, version: int) -> str:
    return os.path.join(_log_dir(table_path), f"{version:020d}.json")


def _list_log_versions(table_path: str) -> list[int]:
    """Versions with a JSON commit present, ascending."""
    out = []
    for name in fsio.listdir(_log_dir(table_path)):
        if name.endswith(".json") and len(name) == 25 and name[:20].isdigit():
            out.append(int(name[:20]))
    return sorted(out)


def _read_last_checkpoint(table_path: str) -> dict | None:
    p = os.path.join(_log_dir(table_path), "_last_checkpoint")
    if not fsio.exists(p):
        return None
    return json.loads(fsio.read_text(p))


def _checkpoint_paths(table_path: str, version: int, parts: int | None) -> list[str]:
    d = _log_dir(table_path)
    if not parts:
        return [os.path.join(d, f"{version:020d}.checkpoint.parquet")]
    return [
        os.path.join(
            d, f"{version:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
        )
        for i in range(parts)
    ]


def _iter_commit_actions(path: str):
    for line in fsio.read_text(path).splitlines():
        line = line.strip()
        if line:
            yield json.loads(line)


def _map_column_to_dicts(arr) -> list[dict]:
    """MapArray -> list of python dicts via the flat keys/items arrays
    and offsets — ``to_pylist`` on a map column walks scalar-at-a-time
    in Python (~10 µs/row, the 100k-file reconstruction hot spot); the
    flat arrays convert at C speed."""
    if arr.null_count == len(arr):
        return [{} for _ in range(len(arr))]
    offs = arr.offsets.to_pylist()
    keys = arr.keys.to_pylist()
    vals = arr.items.to_pylist()
    out = []
    for i in range(len(arr)):
        lo, hi = offs[i], offs[i + 1]
        out.append(dict(zip(keys[lo:hi], vals[lo:hi])) if hi > lo else {})
    return out


#: Checkpoint part files are IMMUTABLE once written (version-named,
#: exclusive-create commits), so their decoded action lists LRU-cache
#: across snapshot resolutions — the per-query production pattern
#: (the Iceberg twin: iceberg._read_manifest).  Shared implementation:
#: sources/decodecache.py (thread-safe, (path, size, mtime) keys,
#: stat-verified, mtime-less stores never cached).
_CHECKPOINT_CACHE = DecodeCache(max_items=2_000_000)


def _read_checkpoint_actions(paths: list[str]) -> list[dict]:
    """Decoded checkpoint actions, cached.  Callers must treat the
    returned action dicts as READ-ONLY: snapshot construction copies
    the containers it keeps (partitionValues/deletionVector/protocol/
    configuration) and stores only immutable values by reference
    (the raw stats string).  Any future change that stores a MUTABLE
    field by reference must copy it here first."""
    return _CHECKPOINT_CACHE.get_or_decode(
        list(paths), lambda: list(_iter_checkpoint_actions(paths))
    )


def _iter_checkpoint_actions(paths: list[str]):
    """Checkpoint rows are one action per row in struct columns — yield
    them in the same {kind: body} shape as JSON commit lines.

    The ``add`` column (the 100k+-row one) converts COLUMNAR — per-field
    ``struct_field(...).to_pylist()`` plus the offsets-based map decode
    — instead of row-wise ``to_pylist`` (which walks map scalars in
    Python).  Ordering by kind is safe: a checkpoint is a snapshot, so
    inter-kind order carries no semantics (a path is either live or
    tombstoned, never both).  Profiled round 8: 100k-file
    reconstruction 6.2 s -> ~1.5 s."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for p in paths:
        with fsio.open_input(p) as src:
            tbl = pq.read_table(src)
        for kind in ("protocol", "metaData", "remove", "txn"):
            if kind not in tbl.column_names:
                continue
            nn = pc.drop_null(tbl.column(kind).combine_chunks())
            for body in nn.to_pylist():
                yield {kind: body}
        if "add" not in tbl.column_names:
            continue
        col = tbl.column("add").combine_chunks()
        adds = col.filter(pc.is_valid(col))
        if not len(adds):
            continue
        names = {f.name for f in adds.type}

        def _field(name, default=None):
            if name not in names:
                return [default] * len(adds)
            return pc.struct_field(adds, name).to_pylist()

        a_paths = _field("path")
        a_sizes = _field("size", 0)
        a_stats = _field("stats")
        a_dchg = _field("dataChange", True)
        # DV descriptors (external delta-spark checkpoints): small
        # all-scalar struct — row-wise to_pylist is fine here
        a_dvs = _field("deletionVector")
        if "partitionValues" in names:
            a_pvals = _map_column_to_dicts(pc.struct_field(adds, "partitionValues"))
        else:
            a_pvals = [{} for _ in range(len(adds))]
        for i in range(len(adds)):
            yield {
                "add": {
                    "path": a_paths[i],
                    "partitionValues": a_pvals[i],
                    "size": a_sizes[i],
                    "dataChange": a_dchg[i],
                    "stats": a_stats[i],
                    "deletionVector": a_dvs[i],
                }
            }


# ---------------------------------------------------------------------------
# snapshot


class _AddFile:
    """One live data file.  ``stats`` accepts the log's raw JSON string
    and parses LAZILY on first access (round 9: eager ``json.loads`` of
    1M stats strings was ~36% of snapshot resolution; a filter-less
    read never needs them)."""

    __slots__ = ("path", "partition_values", "size", "_stats",
                 "deletion_vector")

    def __init__(
        self,
        path: str,  # RELATIVE to the table root (spec) — stored relative
        partition_values: dict[str, str],
        size: int,
        stats: dict | str | None,
        deletion_vector: dict | None = None,
    ):
        self.path = path
        self.partition_values = partition_values
        self.size = size
        self._stats = stats
        #: deletion-vector descriptor (storageType/pathOrInlineDv/offset/
        #: sizeInBytes/cardinality) or None — the add action's
        #: `deletionVector` field, applied at scan time
        self.deletion_vector = deletion_vector

    @property
    def stats(self) -> dict | None:
        """Parsed stats (numRecords/minValues/maxValues/nullCount)."""
        s = self._stats
        if isinstance(s, str):
            try:
                s = json.loads(s)
            except ValueError:
                s = None
            if not isinstance(s, dict):
                s = None
            self._stats = s
        return self._stats

    @stats.setter
    def stats(self, value: dict | None) -> None:
        self._stats = value

    def stats_json(self) -> str | None:
        """The stats as a JSON string — the raw log bytes pass through
        when they parse to a dict (checkpoint fast path; semantically
        identical to a re-dump), and INVALID strings become None
        exactly like the access path, so checkpoint contents never
        depend on whether a query touched .stats first."""
        s = self._stats
        if isinstance(s, str):
            try:
                parsed = json.loads(s)
            except ValueError:
                return None
            return s if isinstance(parsed, dict) else None
        return json.dumps(s) if s else None

    def __eq__(self, other) -> bool:  # the old dataclass contract
        if not isinstance(other, _AddFile):
            return NotImplemented
        return (
            self.path == other.path
            and self.partition_values == other.partition_values
            and self.size == other.size
            and self.stats == other.stats  # parsed: semantic equality
            and self.deletion_vector == other.deletion_vector
        )

    def __repr__(self) -> str:  # dataclass-style, for test diffs
        return (
            f"_AddFile(path={self.path!r}, "
            f"partition_values={self.partition_values!r}, "
            f"size={self.size!r}, stats={self.stats!r}, "
            f"deletion_vector={self.deletion_vector!r})"
        )


@dataclass
class DeltaSnapshot:
    """The reconstructed live state of a Delta table at one version:
    everything a scan needs, small enough to live on the driver."""

    table_path: str
    version: int
    schema: T.StructType
    partition_columns: list[str]
    #: metaData.id — the table's STABLE unique identifier per the Delta
    #: protocol; every metaData-rewriting commit must re-emit it
    #: unchanged (external readers treat an id change as table
    #: replacement and invalidate), fresh uuid only at table creation
    table_id: str = ""
    files: list[_AddFile] = field(default_factory=list)
    #: populated by filter pruning: how many live files the filters removed
    files_pruned: int = 0
    #: streaming idempotence: appId → highest committed txn version
    #: (the Delta `txn` action — the exactly-once handshake)
    app_versions: dict[str, int] = field(default_factory=dict)
    #: latest metaData `configuration` map (table properties)
    configuration: dict = field(default_factory=dict)
    #: column mapping (mode name/id): LOGICAL field name -> physical
    #: parquet column name; empty = no mapping (plain table)
    column_mapping: dict = field(default_factory=dict)
    #: remove tombstones seen in the replayed log tail: rel path →
    #: deletionTimestamp ms (vacuum's retention input)
    tombstones: dict[str, int] = field(default_factory=dict)
    #: protocol readerFeatures (v3 tables)
    reader_features: set = field(default_factory=set)
    #: the last protocol action VERBATIM — checkpoints must republish
    #: it (writing a default would downgrade a v3 table's requirements)
    protocol: dict = field(default_factory=dict)

    @property
    def num_files(self) -> int:
        return len(self.files)

    def file_paths(self) -> list[str]:
        return [os.path.join(self.table_path, f.path) for f in self.files]

    def with_files(self, files: list["_AddFile"]) -> "DeltaSnapshot":
        """A snapshot restricted to ``files`` that keeps EVERY other
        field — crucially ``column_mapping`` (an ad-hoc reconstruction
        that drops it makes ``_scan_snapshot`` read a column-mapped
        table's parquet under logical names and return all-NULL data)."""
        return dataclasses.replace(self, files=list(files))


def _normalize_rel(table_path: str, p: str) -> str:
    """Spec says add/remove paths are table-root-relative (URL-encoded);
    tolerate absolute paths/URIs some writers emit."""
    if "%" not in p and ":" not in p and p[:1] != "/":
        return p  # plain relative path — the overwhelmingly common case
    if "%" in p:
        p = _unquote(p)
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    if "://" in p:
        # absolute URI under the table root (scheme spellings may
        # differ: s3a vs s3) — strip to the path after the root's tail.
        # A URI that does NOT live under the root refuses loudly: a
        # basename guess could silently read a different file
        # (review finding).
        tail = table_path.partition("://")[2]
        rest = p.partition("://")[2]
        if tail and rest.startswith(tail.rstrip("/") + "/"):
            return rest[len(tail.rstrip("/")) + 1:]
        raise DeltaProtocolError(
            f"add/remove path {p!r} is not under the table root "
            f"{table_path!r} — external-location files are not "
            "supported by this reader"
        )
    if os.path.isabs(p) and fsio.is_local(table_path):
        return os.path.relpath(p, os.path.abspath(table_path))
    return p


def read_delta_snapshot(table_path: str, version: int | None = None) -> DeltaSnapshot:
    """Reconstruct the live file set / schema at ``version`` (default:
    latest).  Checkpoint-bounded: at most one checkpoint parquet plus the
    JSON commits after it are read — never the full history."""
    versions = _list_log_versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no Delta log at {table_path!r}")
    target = versions[-1] if version is None else int(version)

    start = 0
    action_streams = []
    cp = _read_last_checkpoint(table_path)
    if cp is not None and cp.get("version", -1) <= target:
        cp_version = int(cp["version"])
        action_streams.append(
            _read_checkpoint_actions(
                _checkpoint_paths(table_path, cp_version, cp.get("parts"))
            )
        )
        start = cp_version + 1
    needed = [v for v in versions if start <= v <= target]
    if version is not None and target not in versions and start == 0:
        raise ValueError(f"version {target} not in log (have {versions})")
    # contiguity check: a gap means an expired/vacuumed log segment
    expect = start if action_streams else (needed[0] if needed else 0)
    for v in needed:
        if v != expect:
            raise ValueError(
                f"Delta log gap at version {expect} (found {v}); cannot "
                "reconstruct the snapshot"
            )
        expect += 1
    for v in needed:
        action_streams.append(_iter_commit_actions(_commit_path(table_path, v)))

    adds: dict[str, _AddFile] = {}
    schema: T.StructType | None = None
    table_id: str = ""
    part_cols: list[str] = []
    configuration: dict = {}
    column_mapping: dict = {}
    app_versions: dict[str, int] = {}
    tombstones: dict[str, int] = {}
    reader_features: set = set()
    protocol_action: dict = {}
    for stream in action_streams:
        for action in stream:
            if "add" in action:
                a = action["add"]
                rel = _normalize_rel(table_path, a["path"])
                stats = a.get("stats")
                dv = a.get("deletionVector")
                adds[rel] = _AddFile(
                    path=rel,
                    partition_values=dict(a.get("partitionValues") or {}),
                    size=int(a.get("size") or 0),
                    # raw string: _AddFile.stats parses lazily on access
                    stats=stats if isinstance(stats, (str, dict)) else None,
                    deletion_vector=dict(dv) if isinstance(dv, dict) else None,
                )
            elif "remove" in action:
                r = action["remove"]
                rel = _normalize_rel(table_path, r["path"])
                adds.pop(rel, None)
                tombstones[rel] = int(r.get("deletionTimestamp") or 0)
            elif "txn" in action:
                t = action["txn"]
                app = t.get("appId")
                if app is not None and t.get("version") is not None:
                    app_versions[app] = max(
                        app_versions.get(app, -1), int(t["version"])
                    )
            elif "metaData" in action:
                md = action["metaData"]
                table_id = md.get("id") or table_id
                schema = T.StructType.fromJson(json.loads(md["schemaString"]))
                part_cols = list(md.get("partitionColumns") or [])
                configuration = dict(md.get("configuration") or {})
                column_mapping = {}
                if configuration.get("delta.columnMapping.mode") in (
                    "name", "id"
                ):
                    # id mode also records physicalName; parquet files
                    # written by delta-spark carry BOTH, and matching by
                    # physical name reads either mode correctly here
                    for fld in schema.fields:
                        phys = (fld.metadata or {}).get(
                            "delta.columnMapping.physicalName"
                        )
                        if phys:
                            column_mapping[fld.name] = phys
            elif "protocol" in action:
                pr = action["protocol"]
                rv = int(pr.get("minReaderVersion", 1))
                feats = set(pr.get("readerFeatures") or [])
                reader_features = feats
                protocol_action = dict(pr)
                # v3 REQUIRES a readerFeatures list; absent/empty means
                # the requirement is unknown -> refuse, don't guess
                if rv > MAX_READER_VERSION and not (
                    rv == 3
                    and feats
                    and feats <= {"columnMapping", "deletionVectors"}
                ):
                    raise DeltaProtocolError(
                        f"table requires minReaderVersion={rv} with "
                        f"readerFeatures={sorted(feats)} (this reader "
                        f"implements ≤ {MAX_READER_VERSION} plus the "
                        "columnMapping and deletionVectors table "
                        "features)"
                    )
    if schema is None:
        raise DeltaProtocolError("log has no metaData action (corrupt table?)")
    if column_mapping:
        # stats and partitionValues are keyed by PHYSICAL names on a
        # column-mapped table — normalize to logical once, so pruning
        # and every downstream consumer stay in logical terms
        to_logical = {p: l for l, p in column_mapping.items()}

        def _remap(d: dict | None) -> dict | None:
            if not isinstance(d, dict):
                return d
            return {to_logical.get(k, k): v for k, v in d.items()}

        for f in adds.values():
            f.partition_values = _remap(f.partition_values) or {}
            if f.stats:
                f.stats = {
                    k: (_remap(v) if k in (
                        "minValues", "maxValues", "nullCount"
                    ) else v)
                    for k, v in f.stats.items()
                }
    return DeltaSnapshot(
        table_path=table_path,
        version=target,
        schema=schema,
        table_id=table_id,
        partition_columns=part_cols,
        files=sorted(adds.values(), key=lambda f: f.path),
        app_versions=app_versions,
        tombstones=tombstones,
        configuration=configuration,
        column_mapping=column_mapping,
        reader_features=reader_features,
        protocol=protocol_action,
    )


# ---------------------------------------------------------------------------
# stats-based file skipping


def _coerce_like(value, bound):
    """Compare filter value against a JSON stats bound with matching
    Python semantics; None means 'cannot compare' (keep the file)."""
    if bound is None:
        return None
    if isinstance(value, bool) or isinstance(bound, bool):
        return bound if isinstance(value, type(bound)) else None
    if isinstance(value, (int, float)) and isinstance(bound, (int, float)):
        return bound
    if isinstance(value, str) and isinstance(bound, str):
        return bound
    return None


def _file_may_match(f: _AddFile, col: str, op: str, value) -> bool:
    """Proof-based skipping: False only when the file's stats (or its
    partition value) PROVE no row can satisfy ``col op value``.  Missing
    stats, unknown columns, type mismatches → True (keep)."""
    # partition columns: the value is exact, not a range
    if col in f.partition_values:
        pv = f.partition_values[col]
        if pv is None or pv == "":
            return op in ("is_null",)
        if op == "is_null":
            return False
        sv = str(value)
        return {
            "=": pv == sv,
            "!=": pv != sv,
            "<": pv < sv,
            "<=": pv <= sv,
            ">": pv > sv,
            ">=": pv >= sv,
        }.get(op, True)
    st = f.stats or {}
    if op == "is_null":
        nulls = (st.get("nullCount") or {}).get(col)
        return nulls is None or int(nulls) > 0
    lo = _coerce_like(value, (st.get("minValues") or {}).get(col))
    hi = _coerce_like(value, (st.get("maxValues") or {}).get(col))
    # a 32-char string max bound may be truncated — can't trust it as an
    # upper proof (Delta appends a tie-breaker char past real data)
    hi_trusted = not (
        isinstance(hi, str) and len(hi) >= _STRING_STATS_TRUNCATION
    )
    if op == "=":
        if lo is not None and value < lo:
            return False
        if hi is not None and hi_trusted and value > hi:
            return False
        return True
    if op in ("<", "<="):
        if lo is None:
            return True
        return lo < value if op == "<" else lo <= value
    if op in (">", ">="):
        if hi is None or not hi_trusted:
            return True
        return hi > value if op == ">" else hi >= value
    return True  # !=, unknown ops: stats can't disprove


def _prune_files(
    snap: DeltaSnapshot, filters: list[tuple[str, str, object]]
) -> DeltaSnapshot:
    kept = [
        f
        for f in snap.files
        if all(_file_may_match(f, c, op, v) for (c, op, v) in filters)
    ]
    snap.files_pruned = len(snap.files) - len(kept)
    snap.files = kept
    return snap


# ---------------------------------------------------------------------------
# reading


#: Reader features implied by each legacy minReaderVersion (upgrading
#: a table to minReaderVersion 3 must enumerate them, exactly like the
#: writer-side table)
_LEGACY_READER_FEATURES = {
    1: frozenset(),
    2: frozenset({"columnMapping"}),
}


def _physical_partition_values(
    pv: Mapping[str, object], cm: Mapping[str, str]
) -> dict:
    """partitionValues as the LOG stores them: physical keys on a
    column-mapped table (the snapshot normalized them to logical)."""
    return {cm.get(k, k): ("" if v is None else v) for k, v in pv.items()}


def _physical_stats_json(f: "_AddFile", cm: Mapping[str, str]) -> str | None:
    """An add action's stats string under the on-disk contract:
    PHYSICAL column keys on a column-mapped table (review finding:
    re-emitting the snapshot's logical-keyed stats mis-attributes
    bounds after a RENAME + re-ADD of the old name, and breaks external
    readers).  Unmapped tables keep the raw-bytes fast path."""
    if not cm:
        return f.stats_json()
    s = f.stats
    if not s:
        return None

    def _remap(d):
        if not isinstance(d, dict):
            return d
        return {cm.get(k, k): v for k, v in d.items()}

    return json.dumps(
        {
            k: (_remap(v) if k in ("minValues", "maxValues", "nullCount")
                else v)
            for k, v in s.items()
        }
    )


#: Writer features implied by each legacy minWriterVersion (Delta
#: table-features spec, "Writer Version Requirements" — upgrading to
#: v7 must ENUMERATE these, and a writer committing at a legacy
#: version must honor them).
_LEGACY_WRITER_FEATURES = {
    1: frozenset(),
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"appendOnly", "invariants", "checkConstraints"}),
    4: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
        }
    ),
    5: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "columnMapping",
        }
    ),
    6: frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "columnMapping",
            "identityColumns",
        }
    ),
}


def _required_writer_features(proto: dict | None) -> tuple[int, set | None]:
    """(minWriterVersion, features this table requires of a writer);
    None features = a version beyond this writer's knowledge."""
    proto = proto or {}
    mwv = int(proto.get("minWriterVersion", 1))
    if mwv == 7:
        return mwv, set(proto.get("writerFeatures") or [])
    legacy = _LEGACY_WRITER_FEATURES.get(mwv)
    return mwv, (set(legacy) if legacy is not None else None)


def _check_writer_protocol(
    snap: DeltaSnapshot,
    op: str,
    *,
    adds_rows: bool = False,
    removes_rows: bool = False,
) -> None:
    """Refuse a commit the table's writer protocol forbids (round-8
    advice: mutations previously ignored writerFeatures entirely).

    ``adds_rows`` = the commit introduces NEW or CHANGED row values
    (append, UPDATE SET, MERGE insert/update) — the shapes column
    invariants / constraints / generated / identity columns constrain.
    ``removes_rows`` = the commit logically deletes or rewrites rows —
    what ``delta.appendOnly`` forbids and Change Data Feed requires cdc
    files for (this writer produces none, so CDF-enabled tables refuse
    row-removing mutations; pure appends and dataChange=false OPTIMIZE
    are derivable from add/remove actions per the CDF spec and pass).
    Feature declarations whose runtime trigger is absent (e.g.
    ``appendOnly`` declared but ``delta.appendOnly`` unset) pass: the
    feature is implemented by honoring its contract.
    """
    mwv, feats = _required_writer_features(snap.protocol)
    if feats is None:
        raise DeltaProtocolError(
            f"{op}: table requires minWriterVersion={mwv}; this writer "
            "knows legacy versions 1-6 and table-features version 7"
        )
    conf = snap.configuration or {}
    field_meta = [(f.name, f.metadata or {}) for f in snap.schema.fields]

    def _bool_conf(key: str) -> bool:
        return str(conf.get(key, "")).lower() == "true"

    for feat in sorted(feats):
        if feat == "appendOnly":
            if removes_rows and _bool_conf("delta.appendOnly"):
                raise DeltaProtocolError(
                    f"{op} removes or rewrites rows in an append-only "
                    "table (delta.appendOnly=true)"
                )
        elif feat == "invariants":
            bad = [n for n, m in field_meta if "delta.invariants" in m]
            if adds_rows and bad:
                raise DeltaProtocolError(
                    f"{op}: columns {bad} declare invariants this "
                    "writer does not enforce"
                )
        elif feat == "checkConstraints":
            cons = sorted(
                k for k in conf if k.startswith("delta.constraints.")
            )
            if adds_rows and cons:
                raise DeltaProtocolError(
                    f"{op}: table declares CHECK constraints {cons} "
                    "this writer does not enforce"
                )
        elif feat == "changeDataFeed":
            if removes_rows and _bool_conf("delta.enableChangeDataFeed"):
                raise DeltaProtocolError(
                    f"{op} on a Change-Data-Feed-enabled table requires "
                    "writing cdc files, which this writer does not "
                    "produce (appends and OPTIMIZE are fine)"
                )
        elif feat == "generatedColumns":
            gen = [
                n for n, m in field_meta if "delta.generationExpression" in m
            ]
            if adds_rows and gen:
                raise DeltaProtocolError(
                    f"{op}: columns {gen} are generated; this writer "
                    "does not compute generation expressions"
                )
        elif feat == "identityColumns":
            ident = [
                n
                for n, m in field_meta
                if any(k.startswith("delta.identity.") for k in m)
            ]
            if adds_rows and ident:
                raise DeltaProtocolError(
                    f"{op}: columns {ident} are identity columns; this "
                    "writer does not assign identity values"
                )
        elif feat in ("columnMapping", "deletionVectors"):
            pass  # implemented: mapped reads/writes, DV read+write+purge
        else:
            raise DeltaProtocolError(
                f"{op}: table declares writer feature {feat!r} this "
                "writer does not implement — mutating it would break "
                "that feature's contract for other writers"
            )


def _dv_positions(table_path: str, dv: dict) -> list[int]:
    """Resolve one add action's deletionVector descriptor to its sorted
    deleted-row positions (delta.io PROTOCOL.md "Deletion Vectors"):
    storageType `i` = inline z85 bitmap, `u` = UUID-named file under the
    table root (optional random prefix), `p` = absolute path."""
    import uuid as _u

    from ballista_spark.sources.dvbitmap import (
        decode_rbm_array,
        unpack_dv_blob,
        z85_decode,
    )

    st = dv.get("storageType")
    size = int(dv.get("sizeInBytes") or 0)
    if st == "i":
        data = z85_decode(dv["pathOrInlineDv"])
        positions = decode_rbm_array(data[:size] if size else data)
    elif st in ("u", "p"):
        if st == "u":
            enc = dv["pathOrInlineDv"]
            prefix, enc_uuid = enc[:-20], enc[-20:]
            name = f"deletion_vector_{_u.UUID(bytes=z85_decode(enc_uuid))}.bin"
            parts = [table_path.rstrip("/")]
            if prefix.strip("/"):
                parts.append(prefix.strip("/"))
            path = "/".join(parts + [name])
        else:
            path = dv["pathOrInlineDv"]
            if path.startswith("file:"):
                path = path[5:]
                while path.startswith("//"):
                    path = path[1:]
        blob = fsio.read_bytes(path)
        if blob[:1] != b"\x01":
            raise DeltaProtocolError(
                f"DV file {path!r} has format version {blob[:1]!r} "
                "(this reader implements version 1)"
            )
        # PROTOCOL.md marks offset optional; absent means the single
        # vector starts right after the version byte (offset 1)
        positions = unpack_dv_blob(blob, int(dv.get("offset") or 1), size)
    else:
        raise DeltaProtocolError(f"unknown DV storageType {st!r}")
    card = dv.get("cardinality")
    if card is not None and int(card) != len(positions):
        raise DeltaProtocolError(
            f"DV cardinality mismatch: descriptor {card}, "
            f"bitmap {len(positions)}"
        )
    return positions


#: test hook: force the executor path regardless of size/locality
DV_DECODE_FORCE_EXECUTOR = False


def _scan_root(table_path: str) -> str:
    """The table root as ``rewrite.decoded_file_path`` spells the files
    under it.  file: URIs strip before abspath (abspath('file:///x')
    would prepend the cwd — review finding)."""
    tp = table_path
    if tp.startswith("file:"):
        tp = tp[5:]
        while tp.startswith("//"):
            tp = tp[1:]
    return os.path.abspath(tp) if fsio.is_local(tp) else tp.rstrip("/")


def _dv_tombstones(spark: SparkSession, snap: DeltaSnapshot):
    """(file path, row position) tombstones of every live file carrying
    a deletion vector (``dvbitmap.tombstones``), or None."""
    dv_files = [f for f in snap.files if f.deletion_vector]
    if not dv_files:
        return None
    # DECODED spelling on this side (rel paths come unquoted out of
    # _normalize_rel); the scan side decodes _metadata.file_path to
    # match (rewrite.decoded_file_path)
    root = _scan_root(snap.table_path)
    return tombstones(
        spark,
        [
            (f"{root}/{f.path}", int(f.deletion_vector.get("cardinality") or 0),
             snap.table_path, f.deletion_vector)
            for f in dv_files
        ],
        _dv_positions,
        fsio.is_local(snap.table_path) and not DV_DECODE_FORCE_EXECUTOR,
    )


def _is_hive_layout(snap: DeltaSnapshot) -> bool:
    if not snap.partition_columns:
        return True
    for f in snap.files:
        parts = f.path.split("/")
        for col in snap.partition_columns:
            # column-mapped tables name partition DIRECTORIES physically
            dcol = snap.column_mapping.get(col, col)
            want = (
                f"{dcol}=__HIVE_DEFAULT_PARTITION__"
                if f.partition_values.get(col) in (None, "")
                else None
            )
            if not any(
                p.startswith(f"{dcol}=") and (want is None or p == want)
                for p in parts[:-1]
            ):
                return False
    return True


def read_delta_table(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    filters: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """The Delta table at ``version`` as a DataFrame.

    ``filters`` — [(col, op, value)] with op in ``= != < <= > >= is_null``
    — drive DRIVER-SIDE file skipping against the log's per-file
    min/max stats and partition values (proof-based: a file is skipped
    only when its stats prove no row matches).  They are advisory for
    pruning only — apply the real ``.where`` on the result too; Catalyst
    then additionally pushes it into the parquet scan for row-group
    skipping inside the surviving files.
    """
    snap = read_delta_snapshot(table_path, version)
    if filters:
        snap = _prune_files(snap, list(filters))
    return _scan_snapshot(spark, snap)


def _scan_snapshot(
    spark: SparkSession,
    snap: DeltaSnapshot,
    file_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """Scan the snapshot; ``file_col`` / ``pos_col`` optionally carry
    each row's decoded source-file path (``rewrite.decoded_file_path``)
    and physical row position captured AT THE SCAN STAGE, where
    ``_metadata`` still resolves (it does not after a shuffle)."""
    data_fields = [
        fld for fld in snap.schema.fields if fld.name not in snap.partition_columns
    ]
    part_fields = {
        fld.name: fld for fld in snap.schema.fields
        if fld.name in snap.partition_columns
    }
    cm = snap.column_mapping

    def _phys_struct(fields):
        # column-mapped tables store PHYSICAL names in the parquet files;
        # read under those, then alias back to logical below
        return T.StructType(
            [
                T.StructField(cm.get(f.name, f.name), f.dataType, f.nullable)
                for f in fields
            ]
        )

    def _to_logical(df):
        if not cm:
            return df
        # atomic select (see _stage_data_files: sequential renames
        # collide when the two namespaces overlap after RENAME+re-ADD)
        to_logical = {p: l for l, p in cm.items()}
        return df.select(
            *[df[c].alias(to_logical.get(c, c)) for c in df.columns]
        )

    if not snap.files:
        extra = [
            T.StructField(c, t)
            for c, t in ((file_col, T.StringType()), (pos_col, T.LongType()))
            if c
        ]
        return spark.createDataFrame(
            [], T.StructType(list(snap.schema.fields) + extra)
        )

    tomb = _dv_tombstones(spark, snap)

    def _tag(scan_df):
        """Capture the per-row source file / position when the caller
        asked for them (probes, DV-delete)."""
        if file_col:
            scan_df = scan_df.withColumn(file_col, decoded_file_path())
        if pos_col:
            scan_df = scan_df.withColumn(
                pos_col, F.col("_metadata.row_index")
            )
        return scan_df

    def _strip_deleted(scan_df):
        """Anti-join DV tombstones on (file, row position) — applied on
        the scan stage while `_metadata` is still resolvable.  The scan
        side DECODES the percent-encoded file URI because the tombstone
        side is built from the log's DECODED relative paths."""
        if tomb is None:
            return scan_df
        tagged = scan_df.withColumns(
            {
                "__dfp": decoded_file_path(),
                "__pos": F.col("_metadata.row_index"),
            }
        )
        return tagged.join(tomb, ["__dfp", "__pos"], "left_anti").drop(
            "__dfp", "__pos"
        )

    def _read(paths, reader=spark.read):
        phys = reader.schema(_phys_struct(data_fields)).parquet(*paths)
        return _strip_deleted(_tag(_to_logical(phys)))

    out_fields = [fld.name for fld in snap.schema.fields] + [
        c for c in (file_col, pos_col) if c
    ]
    if _is_hive_layout(snap):
        reader = spark.read
        if snap.partition_columns:
            reader = reader.option("basePath", snap.table_path)
        df = _read(snap.file_paths(), reader)
        for col in snap.partition_columns:
            df = df.withColumn(
                col, F.col(col).cast(part_fields[col].dataType)
            )
        # a select per scan build costs a plan analysis: skip a no-op one
        return df if df.columns == out_fields else df.select(out_fields)
    # non-hive layout: one read per distinct partition tuple + union —
    # correct but one scan node per partition value; warn at width
    groups: dict[tuple, list[str]] = {}
    for f in snap.files:
        key = tuple(f.partition_values.get(c) for c in snap.partition_columns)
        groups.setdefault(key, []).append(os.path.join(snap.table_path, f.path))
    if len(groups) > 64:
        import warnings

        warnings.warn(
            f"non-hive Delta layout with {len(groups)} partition values "
            "unions one scan per value — rewrite the table hive-style "
            "(compact_delta_table does) for a single-scan plan",
            stacklevel=2,
        )
    out = None
    for key, paths in groups.items():
        part = _read(paths)
        for col, val in zip(snap.partition_columns, key):
            lit = (
                F.lit(None) if val in (None, "")
                else F.lit(val)
            ).cast(part_fields[col].dataType)
            part = part.withColumn(col, lit)
        part = part.select(out_fields)
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# writing


def _file_stats_json(path: str, stat_cols: list[str]) -> tuple[str, int]:
    """(stats JSON, numRecords) from a parquet footer — row-group min/max
    aggregated per column.  Footer-only: no data pages are read.
    Worker-safe (fsio-routed): the distributed stats pass calls this on
    executors."""
    import pyarrow.parquet as pq

    with fsio.open_input(path) as src:
        md = pq.ParquetFile(src).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in stat_cols:
                continue
            st = c.statistics
            if st is None:
                continue
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            if st.has_min_max:
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                if hasattr(mn, "isoformat"):
                    mn, mx = mn.isoformat(), mx.isoformat()
                if not isinstance(mn, (int, float, str, bool)):
                    continue
                mins[name] = mn if name not in mins else min(mins[name], mn)
                maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    stats = {
        "numRecords": md.num_rows,
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }
    return json.dumps(stats), md.num_rows


def _attempt_commit(table_path: str, version: int, actions: list[dict]) -> None:
    # exclusive create IS the commit: one winner per version (atomic on
    # local FS; check-then-write + documented LogStore caveat on object
    # stores — see fsio.create_exclusive)
    body = "".join(
        json.dumps(a, separators=(",", ":")) + "\n" for a in actions
    )
    fsio.create_exclusive(
        _commit_path(table_path, version), body.encode("utf-8")
    )


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


#: every commit kind writes a checkpoint at multiples of this version
_CHECKPOINT_INTERVAL = 10


def _commit_info(operation: str, parameters: dict) -> dict:
    return {
        "commitInfo": {
            "timestamp": _now_ms(),
            "operation": operation,
            "operationParameters": parameters,
        }
    }


def _removes(files: list[_AddFile], data_change: bool = True) -> list[dict]:
    """``remove`` actions for ``files``, each naming the deletion vector
    it removes (the spec keys a logical file by path + DV)."""
    ts = _now_ms()
    return [
        {
            "remove": {
                "path": f.path,
                "deletionTimestamp": ts,
                "dataChange": data_change,
                **(
                    {"deletionVector": f.deletion_vector}
                    if f.deletion_vector else {}
                ),
            }
        }
        for f in files
    ]


def _metadata(
    snap: DeltaSnapshot | None,
    schema: T.StructType,
    partition_columns: list[str] | None = None,
    configuration: dict | None = None,
) -> dict:
    """A ``metaData`` action; partitioning and configuration default to
    ``snap``'s.  It re-emits ``snap.table_id``: readers treat an id
    change as table replacement, so only a new table gets a fresh id."""
    return {
        "metaData": {
            "id": (snap.table_id if snap else "") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": list(
                snap.partition_columns if partition_columns is None
                else partition_columns
            ),
            "configuration": dict(
                snap.configuration if configuration is None else configuration
            ),
            "createdTime": _now_ms(),
        }
    }


def _txn_applied(snap: DeltaSnapshot | None, txn: tuple[str, int] | None) -> bool:
    """The ``txn`` (app id, version) is already in ``snap`` — a replay."""
    return (
        txn is not None
        and snap is not None
        and snap.app_versions.get(txn[0], -1) >= txn[1]
    )


def _file_key(path: str, dv: dict | None) -> tuple:
    """A logical file's identity: its path plus its deletion vector's
    unique id, so a file re-added with a new vector is a new file."""
    if not dv:
        return path, None
    return path, dv.get("storageType"), dv.get("pathOrInlineDv"), dv.get("offset")


def _table_shape(snap: DeltaSnapshot) -> tuple:
    # a checkpoint spells absent protocol fields as None
    proto = {k: v for k, v in snap.protocol.items() if v is not None}
    return proto, snap.schema, snap.partition_columns, snap.configuration


def _commit(
    table_path: str,
    snap: DeltaSnapshot | None,
    actions,
    txn: tuple[str, int] | None = None,
    checkpoint_interval: int = _CHECKPOINT_INTERVAL,
) -> int | None:
    """Publish one commit at the READ version + 1 (``snap``; None is a
    new table, which commits at 0) through :func:`occ.commit`.  A lost
    race conflicts when a file this commit removes is no longer live
    (path + deletion vector), or, for staged actions, when a winner
    changed the table's protocol, schema, partitioning or configuration.
    ``actions`` is the staged list (DML and OPTIMIZE, kept as is) or a
    function of the snapshot the commit lands on (WRITE and metadata-only
    commits; None: nothing to commit).  The ``txn`` action is appended
    here; a version that is a multiple of ``checkpoint_interval`` writes
    a checkpoint.  Returns the version."""
    rebuild = actions if callable(actions) else None

    def build(s: DeltaSnapshot | None) -> list[dict] | None:
        attempt = rebuild(s) if rebuild else actions
        if attempt is None or txn is None:
            return attempt
        return attempt + [
            {"txn": {"appId": txn[0], "version": txn[1], "lastUpdated": _now_ms()}}
        ]

    def publish(s: DeltaSnapshot | None, attempt: list[dict]) -> int:
        version = 0 if s is None else s.version + 1
        _attempt_commit(table_path, version, attempt)
        return version

    def conflicts(read, winner: DeltaSnapshot, attempt: list[dict]):
        live = {_file_key(f.path, f.deletion_vector) for f in winner.files}
        gone = [
            r["path"]
            for r in (a["remove"] for a in attempt if "remove" in a)
            if _file_key(r["path"], r.get("deletionVector")) not in live
        ]
        if gone:
            return f"removed {gone[:3]}"
        if rebuild is None and _table_shape(winner) != _table_shape(read):
            return "changed the table metadata"
        return None

    version = occ.commit(
        "delta", table_path, snap, build, publish,
        lambda: read_delta_snapshot(table_path), conflicts,
        lambda s: _txn_applied(s, txn),
    )
    if version and checkpoint_interval and version % checkpoint_interval == 0:
        _write_checkpoint(table_path, version)
    return version


#: staged-file counts from which NON-LOCAL footer stats are collected
#: executor-side (``rewrite.per_file``)
EXECUTOR_STATS_MIN_FILES = 64
#: test hook: force the executor path on local paths too
EXECUTOR_STATS_FORCE = False


def _collect_file_stats(
    spark: SparkSession | None, base: str, rels: list[str], stat_cols: list[str]
) -> dict[str, tuple[str, int]]:
    """rel path -> (stats JSON, numRecords) for every staged file."""
    stats = rewrite.per_file(
        spark,
        [f"{base}/{r}" for r in rels],
        lambda p: _file_stats_json(p, stat_cols),
        EXECUTOR_STATS_MIN_FILES,
        EXECUTOR_STATS_FORCE,
    )
    return {r: stats[f"{base}/{r}"] for r in rels}


def _stage_data_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    data_change: bool = True,
    column_mapping: Mapping[str, str] | None = None,
) -> list[dict]:
    """Write ``df`` via Spark into a staging dir, move the parquet files
    into the table root (keeping hive partition subdirs), and return the
    ready-to-commit ``add`` actions with footer-derived stats.  Zero-row
    task outputs are dropped, never added.  IO is fsio-routed (works on
    object storage) and stats collection distributes for large commits
    (``_collect_file_stats``).

    ``column_mapping`` (logical → physical) makes the staged files
    column-mapped-table citizens: parquet columns, hive partition dirs,
    partitionValues keys, and stats keys all carry PHYSICAL names (the
    delta-spark on-disk contract; the snapshot reader remaps them back
    to logical)."""
    from urllib.parse import unquote

    cm = dict(column_mapping or {})
    if cm:
        # ONE atomic select, never sequential renames: after RENAME +
        # re-ADD the logical and physical namespaces overlap (logical
        # 'renamed' -> physical 'a' while logical 'a' -> 'col-xxxx'),
        # and a chain of withColumnRenamed collides midway
        df = df.select(
            *[df[c].alias(cm.get(c, c)) for c in df.columns]
        )
        partition_by = [cm.get(c, c) for c in partition_by]

    staging = f"{table_path.rstrip('/')}/.staging-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)

    stat_cols = [
        f.name for f in df.schema.fields if f.name not in set(partition_by)
    ]
    staged = [
        (rel, size)
        for rel, size in fsio.walk_files(staging)
        if rel.endswith(".parquet")
    ]
    stats_by_rel = _collect_file_stats(
        df.sparkSession, staging, [r for r, _ in staged], stat_cols
    )
    adds: list[dict] = []
    for rel, size in staged:
        stats, n_records = stats_by_rel[rel]
        if n_records == 0:
            continue  # empty task output — never added, swept with staging
        part_values = {}
        for seg in rel.split("/")[:-1]:
            k, _, v = seg.partition("=")
            part_values[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
        fsio.move(f"{staging}/{rel}", f"{table_path.rstrip('/')}/{rel}")
        adds.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {
                        k: ("" if v is None else v)
                        for k, v in part_values.items()
                    },
                    "size": size,
                    "modificationTime": _now_ms(),
                    "dataChange": data_change,
                    "stats": stats,
                }
            }
        )
    fsio.remove_dir(staging)
    return adds


def write_delta_table(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    checkpoint_interval: int = _CHECKPOINT_INTERVAL,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int | None:
    """Write ``df`` as a Delta commit; returns the committed version.

    Data files are written by Spark (full parallelism, hive-style
    partition dirs) into a staging dir, moved into the table, then the
    commit JSON is published with exclusive-create — readers see either
    the old snapshot or the new one, never a torn state.  ``mode``:
    ``append`` adds files; ``overwrite`` also removes the previous
    snapshot's files (logically — data files stay for time travel until
    a vacuum).  The commit lands at the version read before staging + 1;
    when a concurrent commit took it, the actions are rebuilt on the
    winner (an overwrite then removes the winner's files too, unless the
    winner removed a file the overwrite removes, which raises
    :class:`DeltaConcurrentCommitError`).

    ``txn_app_id``/``txn_version`` make the commit IDEMPOTENT (the Delta
    ``txn`` action): a version already recorded for the app id is
    skipped and None returned — replaying a streaming micro-batch after
    a failure cannot double-append.  A skip detected after the data
    files were staged leaves orphans; :func:`vacuum_delta_table` reaps
    them (never referenced by any commit, so they are invisible to
    readers either way).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    txn = None if txn_app_id is None else (txn_app_id, int(txn_version))
    try:
        prior = read_delta_snapshot(table_path)
    except FileNotFoundError:
        prior = None
    if partition_by is None and prior is not None:
        # not specified: inherit the table's partitioning (the common
        # append case — a caller shouldn't have to restate it)
        partition_by = prior.partition_columns
    partition_by = list(partition_by or [])
    fsio.mkdirs(table_path)
    if _txn_applied(prior, txn):
        return None  # replay of an already-committed batch

    adds = _stage_data_files(
        df,
        table_path,
        partition_by,
        column_mapping=prior.column_mapping if prior else None,
    )

    def build(prev: DeltaSnapshot | None) -> list[dict]:
        actions = [_commit_info("WRITE", {"mode": mode.upper()})]
        if prev is None:
            return actions + [
                {
                    "protocol": {
                        "minReaderVersion": 1,
                        "minWriterVersion": MAX_WRITER_VERSION,
                    }
                },
                _metadata(None, df.schema, partition_by, {}),
                *adds,
            ]
        _check_writer_protocol(
            prev,
            "WRITE",
            adds_rows=True,
            removes_rows=(mode == "overwrite"),
        )
        # compare names + types; nullability differences (literal
        # columns are non-nullable) don't constitute schema change
        shape = lambda sch: [(f.name, f.dataType) for f in sch.fields]  # noqa: E731
        if shape(prev.schema) != shape(df.schema) or (
            prev.partition_columns != partition_by
        ):
            if mode != "overwrite":
                raise ValueError(
                    "schema/partitioning mismatch with existing table "
                    "(append requires identical schema; use overwrite)"
                )
            if prev.column_mapping:
                raise DeltaProtocolError(
                    "overwrite with a schema/partitioning change on a "
                    "column-mapped table would replace metaData and "
                    "drop the mapping — ALTER the schema first, then "
                    "overwrite with the matching shape"
                )
            # overwrite replaces data, not table identity
            actions.append(_metadata(prev, df.schema, partition_by, {}))
        if mode == "overwrite":
            actions += _removes(prev.files)
        return actions + adds

    return _commit(
        table_path, prior, build, txn=txn,
        checkpoint_interval=checkpoint_interval,
    )


def alter_delta_table(
    table_path: str,
    add_columns: Mapping[str, str] | None = None,
    drop_columns: list[str] | None = None,
) -> int:
    """Schema evolution as a METADATA-ONLY commit (zero data I/O):
    ``add_columns`` maps new column name → Spark type string (added
    nullable — old files read them as NULL, the Delta contract);
    ``drop_columns`` removes columns from the schema (old files' extra
    physical columns are simply not projected).  Renames are
    deliberately NOT offered: without per-column id metadata in the
    parquet files a rename cannot re-bind old data, and
    add-then-backfill-then-drop expresses the safe version of it.
    Returns the commit version; time travel before it sees the old
    schema (the snapshot replays the metaData action history)."""
    add_columns = dict(add_columns or {})
    drop_columns = list(drop_columns or [])
    if not add_columns and not drop_columns:
        raise ValueError("ALTER needs add_columns and/or drop_columns")

    def build(snap: DeltaSnapshot) -> list[dict]:
        # built against the snapshot the commit lands on, so a raced
        # concurrent ALTER's schema is never clobbered
        _check_writer_protocol(snap, "ALTER")
        mapped = snap.configuration.get("delta.columnMapping.mode") in (
            "name", "id"
        )
        names = {f.name for f in snap.schema.fields}
        dropped = set(json.loads(
            snap.configuration.get("ballista.droppedColumns", "[]")
        ))
        for c in add_columns:
            if c in names:
                raise ValueError(f"column {c!r} already exists")
            if c in dropped and not mapped:
                # the unmapped reader projects parquet by NAME: re-adding a
                # dropped name would RESURRECT the old physical data in
                # pre-drop files (the reason delta-spark gates DROP behind
                # column mapping).  Rewrite the files first, then the name
                # frees up.  Mapped tables are immune: a re-added name gets
                # a FRESH physical name, so old file data stays invisible.
                raise ValueError(
                    f"column {c!r} was previously dropped and its name is "
                    "retired; re-adding it would resurrect old file data. "
                    "Use a new name (the Iceberg field-id discipline, "
                    "spelled in names), or enable_column_mapping() first"
                )
        for c in drop_columns:
            if c not in names:
                raise ValueError(f"column {c!r} does not exist")
            if c in snap.partition_columns:
                raise ValueError(f"cannot drop partition column {c!r}")
            if c in add_columns:
                raise ValueError(f"column {c!r} both added and dropped")
        fields = [
            f for f in snap.schema.fields if f.name not in set(drop_columns)
        ]
        config = dict(snap.configuration)
        if mapped:
            # new columns join the mapping: fresh id (never reused) + a
            # fresh physical name, delta-spark's col-<uuid> convention
            max_id = max(
                [int(config.get("delta.columnMapping.maxColumnId", 0))]
                + [
                    int((f.metadata or {}).get("delta.columnMapping.id", 0))
                    for f in snap.schema.fields
                ]
            )
            for c, t in add_columns.items():
                max_id += 1
                fields.append(
                    T.StructField(
                        c,
                        T._parse_datatype_string(t),  # noqa: SLF001
                        True,
                        metadata={
                            "delta.columnMapping.id": max_id,
                            "delta.columnMapping.physicalName": (
                                f"col-{uuid.uuid4().hex[:16]}"
                            ),
                        },
                    )
                )
            config["delta.columnMapping.maxColumnId"] = str(max_id)
        else:
            fields += [
                T.StructField(c, T._parse_datatype_string(t), True)  # noqa: SLF001
                for c, t in add_columns.items()
            ]
            config["ballista.droppedColumns"] = json.dumps(
                sorted(dropped | set(drop_columns))
            )
        if not fields:
            raise ValueError("cannot drop every column")
        return [
            _commit_info(
                "ALTER TABLE",
                {
                    "added": json.dumps(add_columns),
                    "dropped": json.dumps(drop_columns),
                },
            ),
            _metadata(snap, T.StructType(fields), configuration=config),
        ]

    return _commit(table_path, read_delta_snapshot(table_path), build)


def enable_column_mapping(table_path: str) -> int | None:
    """Turn on column mapping (``delta.columnMapping.mode = name``) as
    a METADATA-ONLY commit; returns the commit version, or None when
    the table is already mapped.

    Every EXISTING column keeps its current name as its physical name
    — so every already-written parquet file still resolves — and gets
    a stable column id (delta-spark does exactly this on ``ALTER TABLE
    SET TBLPROPERTIES ('delta.columnMapping.mode'='name')``).  Columns
    added later get fresh ``col-<uuid>`` physical names, which is what
    makes RENAME/re-add safe afterwards.  The protocol upgrades to the
    mapping's requirement: legacy (2, 5), or feature lists on tables
    already at reader 3 / writer 7 (implied legacy features
    enumerated, per the table-features spec).  Mapping cannot be
    DISABLED once on (protocol rule) — there is deliberately no
    inverse."""

    def build(snap: DeltaSnapshot) -> list[dict] | None:
        _check_writer_protocol(snap, "ALTER")
        if snap.configuration.get("delta.columnMapping.mode") in (
            "name", "id"
        ):
            return None
        fields = []
        for i, f in enumerate(snap.schema.fields, 1):
            md = dict(f.metadata or {})
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = f.name
            fields.append(
                T.StructField(f.name, f.dataType, f.nullable, metadata=md)
            )
        config = dict(snap.configuration)
        config["delta.columnMapping.mode"] = "name"
        config["delta.columnMapping.maxColumnId"] = str(len(fields))
        proto = dict(
            snap.protocol
            or {"minReaderVersion": 1, "minWriterVersion": MAX_WRITER_VERSION}
        )
        mrv = int(proto.get("minReaderVersion", 1))
        mwv = int(proto.get("minWriterVersion", 1))
        if mwv == 7 or mrv >= 3:
            rf = set(proto.get("readerFeatures") or [])
            wf = set(proto.get("writerFeatures") or [])
            rf |= _LEGACY_READER_FEATURES.get(mrv, frozenset())
            wf |= _LEGACY_WRITER_FEATURES.get(mwv, frozenset())
            new_proto = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(rf | {"columnMapping"}),
                "writerFeatures": sorted(wf | {"columnMapping"}),
            }
        else:
            new_proto = {
                "minReaderVersion": max(mrv, 2),
                "minWriterVersion": max(mwv, 5),
            }
        actions = [
            _commit_info(
                "SET TBLPROPERTIES",
                {
                    "properties": json.dumps(
                        {"delta.columnMapping.mode": "name"}
                    )
                },
            )
        ]
        if new_proto != proto:
            actions.append({"protocol": new_proto})
        return actions + [
            _metadata(snap, T.StructType(fields), configuration=config)
        ]

    return _commit(table_path, read_delta_snapshot(table_path), build)


#: table properties whose semantics ride on a writer feature — SETTING
#: one upgrades the protocol to carry the requirement (legacy
#: minWriterVersion, feature name), exactly as delta-spark does
_PROPERTY_WRITER_REQUIREMENTS = {
    "delta.appendOnly": (2, "appendOnly"),
    "delta.enableChangeDataFeed": (4, "changeDataFeed"),
}


def _protocol_with_writer_requirement(
    proto: dict | None, legacy_version: int, feature: str
) -> dict:
    """The protocol action carrying a new writer requirement: a legacy
    minWriterVersion bump when the table is pre-table-features, or the
    feature added to an enumerated v7 list (implied legacy features
    spelled out, per the spec)."""
    proto = dict(
        proto or {"minReaderVersion": 1, "minWriterVersion": MAX_WRITER_VERSION}
    )
    mrv = int(proto.get("minReaderVersion", 1))
    mwv = int(proto.get("minWriterVersion", 1))
    if mwv == 7:
        wf = set(proto.get("writerFeatures") or [])
        out = dict(proto)
        out["writerFeatures"] = sorted(wf | {feature})
        return out
    if mwv >= legacy_version:
        return proto
    return {"minReaderVersion": mrv, "minWriterVersion": legacy_version}


def set_delta_table_properties(
    table_path: str,
    set_props: Mapping[str, object] | None = None,
    unset: list[str] | None = None,
) -> int:
    """``ALTER TABLE … SET/UNSET TBLPROPERTIES`` as a METADATA-ONLY
    commit: merges ``set_props`` into (and pops ``unset`` from) the
    table's configuration.  Feature-backed properties
    (``delta.appendOnly``, ``delta.enableChangeDataFeed``,
    ``delta.constraints.*``) upgrade the protocol to carry the writer
    requirement, and this engine's own writer-protocol gate then
    honors them (an appendOnly table refuses row removals; a
    CDF-enabled table refuses mutations it cannot produce cdc files
    for).  Column-mapping properties refuse: use
    :func:`enable_column_mapping` (the mode cannot be disabled per the
    protocol).  Returns the commit version."""
    set_props = {k: str(v) for k, v in (set_props or {}).items()}
    unset = list(unset or [])
    if not set_props and not unset:
        raise ValueError("SET/UNSET TBLPROPERTIES needs at least one key")
    for k in list(set_props) + unset:
        if k.startswith("delta.columnMapping"):
            raise ValueError(
                "delta.columnMapping.* cannot be set directly — use "
                "enable_column_mapping() (and mapping cannot be "
                "disabled once on, per the protocol)"
            )

    def build(snap: DeltaSnapshot) -> list[dict]:
        _check_writer_protocol(snap, "ALTER")
        config = dict(snap.configuration)
        for k in unset:
            config.pop(k, None)
        config.update(set_props)
        proto = dict(snap.protocol or {})
        new_proto = dict(proto) if proto else None
        for k in set_props:
            req = _PROPERTY_WRITER_REQUIREMENTS.get(k)
            if req is None and k.startswith("delta.constraints."):
                req = (3, "checkConstraints")
            if req is not None:
                new_proto = _protocol_with_writer_requirement(
                    new_proto if new_proto else proto, *req
                )
        actions = [
            _commit_info(
                "SET TBLPROPERTIES",
                {
                    "properties": json.dumps(set_props),
                    "unset": json.dumps(unset),
                },
            )
        ]
        if new_proto and new_proto != proto:
            actions.append({"protocol": new_proto})
        return actions + [_metadata(snap, snap.schema, configuration=config)]

    return _commit(table_path, read_delta_snapshot(table_path), build)


def rename_delta_column(table_path: str, old: str, new: str) -> int:
    """``ALTER TABLE … RENAME COLUMN old TO new`` as a METADATA-ONLY
    commit (zero data I/O): only the LOGICAL name in the schema
    changes; the physical name bound into every parquet file stays
    put, which is why delta-spark gates renames behind column mapping.
    Auto-enables mapping (one extra metadata commit) on an unmapped
    table.  Time travel before the rename replays the old metaData and
    sees the old name.  Returns the rename's commit version."""
    if old == new:
        raise ValueError("rename to the same name is a no-op")
    enable_column_mapping(table_path)  # a no-op on a mapped table

    def build(snap: DeltaSnapshot) -> list[dict]:
        _check_writer_protocol(snap, "ALTER")
        names = [f.name for f in snap.schema.fields]
        if old not in names:
            raise ValueError(f"column {old!r} does not exist")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fields = [
            T.StructField(
                new if f.name == old else f.name,
                f.dataType,
                f.nullable,
                metadata=dict(f.metadata or {}),
            )
            for f in snap.schema.fields
        ]
        return [
            _commit_info("RENAME COLUMN", {"from": old, "to": new}),
            _metadata(
                snap,
                T.StructType(fields),
                [new if c == old else c for c in snap.partition_columns],
            ),
        ]

    return _commit(table_path, read_delta_snapshot(table_path), build)


def _write_checkpoint(table_path: str, version: int) -> None:
    """Compact the log state at ``version`` into one checkpoint parquet
    (+ ``_last_checkpoint``): snapshot reads then start there instead of
    replaying history."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    snap = read_delta_snapshot(table_path, version)
    blank = {"protocol": None, "metaData": None, "add": None, "txn": None}
    # republish the table's ACTUAL protocol: writing a default here
    # would downgrade a v3 (columnMapping/deletionVectors) table's
    # declared requirements for every reader starting at the checkpoint
    proto = snap.protocol or {
        "minReaderVersion": 1,
        "minWriterVersion": MAX_WRITER_VERSION,
    }
    rows = [
        {
            **blank,
            "protocol": {
                "minReaderVersion": int(proto.get("minReaderVersion", 1)),
                "minWriterVersion": int(
                    proto.get("minWriterVersion", MAX_WRITER_VERSION)
                ),
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            },
        },
        {
            **blank,
            "metaData": {
                "id": snap.table_id or str(uuid.uuid4()),
                "schemaString": snap.schema.json(),
                "partitionColumns": snap.partition_columns,
                # configuration must survive checkpointing: the ALTER
                # layer's retired-name guard lives here
                "configuration": list(snap.configuration.items()),
            },
        },
    ]
    for app, ver in sorted(snap.app_versions.items()):
        rows.append({**blank, "txn": {"appId": app, "version": ver}})
    for f in snap.files:
        dv = None
        if f.deletion_vector:
            # untouched files keep their DVs across a checkpoint —
            # dropping the descriptor here would resurrect deleted rows
            # for every reader starting at the checkpoint
            d = f.deletion_vector
            dv = {
                "storageType": d.get("storageType"),
                "pathOrInlineDv": d.get("pathOrInlineDv"),
                "offset": d.get("offset"),
                "sizeInBytes": d.get("sizeInBytes"),
                "cardinality": d.get("cardinality"),
            }
        rows.append(
            {
                **blank,
                "add": {
                    "path": f.path,
                    # the on-disk contract: PHYSICAL keys on mapped tables
                    "partitionValues": _physical_partition_values(
                        f.partition_values, snap.column_mapping
                    ),
                    "size": f.size,
                    "modificationTime": _now_ms(),
                    "dataChange": False,
                    "stats": _physical_stats_json(f, snap.column_mapping),
                    "deletionVector": dv,
                },
            }
        )
    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [("minReaderVersion", pa.int32()),
                     ("minWriterVersion", pa.int32()),
                     ("readerFeatures", pa.list_(pa.string())),
                     ("writerFeatures", pa.list_(pa.string()))]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        ("deletionVector", pa.struct(
                            [
                                ("storageType", pa.string()),
                                ("pathOrInlineDv", pa.string()),
                                ("offset", pa.int32()),
                                ("sizeInBytes", pa.int32()),
                                ("cardinality", pa.int64()),
                            ]
                        )),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct([("appId", pa.string()), ("version", pa.int64())]),
            ),
        ]
    )
    for r in rows:
        if r["add"] is not None:
            r["add"]["partitionValues"] = list(r["add"]["partitionValues"].items())
    table = pa.Table.from_pylist(rows, schema=schema)
    cp_path = _checkpoint_paths(table_path, version, None)[0]
    with fsio.open_output(cp_path) as sink:
        pq.write_table(table, sink)
    fsio.write_text(
        os.path.join(_log_dir(table_path), "_last_checkpoint"),
        json.dumps({"version": version, "size": len(rows)}),
    )


# ---------------------------------------------------------------------------
# compaction


def compact_delta_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> int | None:
    """Transactional small-file compaction (``rewrite.compact``): per
    partition, bin-pack live files under ``target_file_bytes`` and
    rewrite each bin as one file, committing remove+add atomically
    (``dataChange: false`` rewrites — the table's rows are unchanged,
    so concurrent readers at any version stay correct).  Returns the
    committed version, or None when nothing needed compacting.

    ``cluster_by`` switches to CLUSTERED rewrite (the OPTIMIZE ZORDER
    analogue): each partition's live files are rewritten as
    range-partitioned, sorted files on the given columns, so every
    output file covers a narrow value range and the log's per-file
    min/max stats become selective — stats-based file skipping on those
    columns then prunes most of the table.  For multi-dimensional
    locality pass a ``zorder_column`` (``operators/partitioning.py``)
    materialized as a column and cluster on it.  Groups read through
    :func:`_scan_snapshot`, so deletion vectors apply (a direct parquet
    read would resurrect DV-deleted rows) and the rewrite PURGES them.

    This is the operational answer to the classic 100 TB failure mode:
    streaming/append pipelines produce millions of KB-sized files whose
    per-file task overhead dwarfs the data.  Compaction restores
    ~target-sized scan units without blocking writers (optimistic
    commit) or readers (old files stay until vacuum).
    """
    return rewrite.compact(
        _Rewrite(spark, table_path, "OPTIMIZE"), target_file_bytes, cluster_by
    )


# ---------------------------------------------------------------------------
# vacuum


def vacuum_delta_table(
    table_path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    now: int | None = None,
) -> list[str]:
    """Physically delete data files no longer referenced by the CURRENT
    snapshot whose tombstone (or, for never-committed orphans from
    crashed writers, file mtime) is older than ``retention_ms``.
    Returns the deleted paths (table-relative).

    Semantics match Delta's VACUUM: logical deletes (overwrite,
    compaction) keep old files readable for time travel until vacuum
    reaps them; after a vacuum, versions older than the horizon are no
    longer reconstructable — the retention window is the time-travel
    window.  Driver-side listing; at object-store scale run the walk
    from a manifest instead.
    """
    now = _now_ms() if now is None else int(now)
    horizon = now - int(retention_ms)
    snap = read_delta_snapshot(table_path)
    live = {f.path for f in snap.files}
    deleted: list[str] = []
    for rel, _size in fsio.walk_files(table_path):
        # never touch the log or in-flight staging dirs
        top = rel.split("/", 1)[0]
        if top == "_delta_log" or top.startswith((".staging-", ".compact-")):
            continue
        if not rel.endswith(".parquet") or rel in live:
            continue
        full = f"{table_path.rstrip('/')}/{rel}"
        ts = snap.tombstones.get(rel)
        if ts is None:  # orphan from a crashed/skipped writer
            ts = fsio.mtime_ms(full)
        if ts < horizon:
            fsio.remove(full)
            deleted.append(rel)
    return sorted(deleted)


# ---------------------------------------------------------------------------
# row-level DML and OPTIMIZE: the touch-only core in sources/rewrite.py
# over this adapter


class _Rewrite:
    """The ``rewrite.Table`` adapter over the snapshot a row-level
    writer read.  The writer-protocol gate runs first.  Every rewrite
    reads through :func:`_scan_snapshot` (DV-applied) and stages files
    WITHOUT a descriptor, so a touch purges the file's DV while
    untouched files keep theirs (the checkpoint writer carries the
    descriptors and the table's real protocol) — delta-spark's REORG
    ... APPLY (PURGE), applied incrementally.  Commits go through
    :func:`_commit` at the version read."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        op: str,
        adds_rows: bool = False,
        removes_rows: bool = False,
        alias: str | None = None,
    ):
        self.spark, self.alias = spark, alias
        self.snap = read_delta_snapshot(table_path)
        _check_writer_protocol(
            self.snap, op, adds_rows=adds_rows, removes_rows=removes_rows
        )
        self.schema = self.snap.schema
        self.root = _scan_root(table_path)

    def live_files(self) -> list[_AddFile]:
        return self.snap.files

    def may_match(self, files, conjuncts) -> list[_AddFile]:
        return [
            f
            for f in files
            if all(_file_may_match(f, c, op, v) for c, op, v in conjuncts)
        ]

    def path(self, f: _AddFile) -> str:
        return f"{self.root}/{f.path}"

    def size(self, f: _AddFile) -> int:
        return f.size

    def partition(self, f: _AddFile) -> tuple:
        return tuple(
            f.partition_values.get(c, "") for c in self.snap.partition_columns
        )

    def scan(self, files, file_col=None, pos_col=None) -> DataFrame:
        df = _scan_snapshot(
            self.spark, self.snap.with_files(files), file_col, pos_col
        )
        return df.alias(self.alias) if self.alias else df

    def stage(self, df: DataFrame, data_change: bool = True) -> list[dict]:
        return _stage_data_files(
            df,
            self.snap.table_path,
            self.snap.partition_columns,
            data_change=data_change,
            column_mapping=self.snap.column_mapping,
        )

    def commit(self, removed, added, op, params, txn=None) -> int | None:
        return _commit(
            self.snap.table_path,
            self.snap,
            [_commit_info(op, params)]
            + _removes(removed, data_change=op != "OPTIMIZE")
            + added,
            txn=txn,
        )

    def txn_applied(self, txn) -> bool:
        return _txn_applied(self.snap, txn)


def merge_delta_table(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int | None:
    """``MERGE INTO`` the Delta table: for rows whose ``on`` keys match a
    source row, ``when_matched`` = ``update`` replaces them with the
    source row (SCD-1) or ``delete`` drops them; unmatched source rows
    are inserted when ``insert_not_matched``.  One atomic commit; returns
    its version (None when the merge is a no-op).

    Touch-only (``rewrite.merge``): for single-key merges the source's
    key min/max cut the candidates by the log's per-file stats, a
    one-job broadcast-semi probe finds the files the keys touch, and
    only those are rewritten, in ONE staged write with the source rows
    the merge writes.  Matching the delta-spark semantics, a concurrent
    commit that removed one of our touched files aborts with
    :class:`DeltaConcurrentCommitError` (rerun on the new snapshot).
    ``txn_app_id``/``txn_version`` give streaming-upsert idempotence
    (the Delta ``txn`` action): a replayed epoch is detected in the log
    and skipped before any file is staged.

    Row semantics mirror ``operators.dataset.merge_upsert`` (the
    DataFrame-level MERGE); this is its transactional storage face.
    """
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version go together")
    txn = None if txn_app_id is None else (txn_app_id, int(txn_version))
    t = _Rewrite(spark, table_path, "MERGE", adds_rows=True, removes_rows=True)
    return rewrite.merge(t, source, on, when_matched, insert_not_matched, txn)


def delete_from_delta_table(
    spark: SparkSession,
    table_path: str,
    filters: list[tuple[str, str, object]] | Column,
    use_deletion_vectors: bool | None = None,
    alias: str | None = None,
) -> int | None:
    """``DELETE FROM``: remove every row matching ``filters`` — either
    (col, op, value) triples, ALL of which must hold (the proof
    language the reader prunes on), or any Column predicate, whose
    provable top-level conjuncts prune — touching ONLY files that
    provably contain matches (``rewrite.delete``).  Returns the commit
    version, or None when nothing matched (zero writes).  Rows where
    the predicate is NULL are KEPT — SQL DELETE semantics.

    Two write shapes:

    - default (copy-on-write): touched files REWRITE without the
      matching rows; a file left empty disappears.  Cost tracks touched
      BYTES.
    - ``use_deletion_vectors=True`` — or None (the default) on a table
      with ``delta.enableDeletionVectors=true``, the delta-spark
      routing (the modern delta-spark DELETE):
      matched physical row positions become a roaring bitmap in ONE
      shared DV file; each touched file re-adds with the descriptor
      (unioned with any existing DV), zero data bytes rewritten.  Cost
      tracks MATCHED ROWS — a 3-row delete from a 1 GB file writes a
      ~100-byte bitmap.  The commit upgrades the protocol to v3 +
      deletionVectors on first use (required for other readers to see
      the requirement); a file whose bitmap reaches its row count drops
      entirely.  Purge later with OPTIMIZE (compaction applies and
      drops DVs) — the usual operational pairing.

    ``alias`` is the name a Column predicate qualifies the table's
    columns by (SQL ``DELETE FROM t AS x WHERE x.id = 1``).
    """
    t = _Rewrite(spark, table_path, "DELETE", removes_rows=True, alias=alias)
    if use_deletion_vectors is None:
        # the delta-spark default: tables that enable DVs get the
        # zero-rewrite shape (SQL DELETE included); explicit True/False
        # overrides
        use_deletion_vectors = (
            (t.snap.configuration or {})
            .get("delta.enableDeletionVectors", "")
            .lower()
            == "true"
        )
    if not use_deletion_vectors:
        return rewrite.delete(t, filters)
    return rewrite.delete(
        t,
        filters,
        lambda c, pred: _delete_with_deletion_vectors(
            t, c, pred, rewrite._predicate_param(filters)
        ),
    )


def _delete_with_deletion_vectors(
    t: _Rewrite,
    candidates: list[_AddFile],
    pred,
    predicate_text: str,
) -> int | None:
    """The DV write shape of DELETE (see delete_from_delta_table) over
    the stats-pruned ``candidates``; a candidate with no new match is
    left alone.  Matched row positions NEVER collect to the driver:
    they aggregate per file EXECUTOR-SIDE (groupBy file → applyInPandas
    packing each file's roaring-bitmap DV-file segment), unioned there
    with any existing descriptor's positions (a DV replaces a DV).
    The driver receives one compressed segment per touched file —
    O(file count × bitmap bytes), the same order as the DV file it
    must write as a single object anyway — and concatenates them at
    running offsets into ONE shared DV file (round-8 weak item: the
    previous collect() of every matched (file, rowpos) row could OOM
    the driver on a broad DELETE where the COW path succeeded)."""
    import uuid as _uuid

    from ballista_spark.sources.dvbitmap import z85_encode

    snap, spark, table_path = t.snap, t.spark, t.snap.table_path
    all_pos = (
        t.scan(candidates, file_col="__file", pos_col="__rowpos")
        .where(pred)
        .select(
            "__file", F.col("__rowpos").alias("__pos"), F.lit(1).alias("__new")
        )
    )

    # existing descriptors on candidate files fold into the replacement
    # vector through the reader's size-aware tombstone decode (the scan
    # already anti-joined them out, so matched rows are new deletions)
    old = _dv_tombstones(spark, snap.with_files(candidates))
    if old is not None:
        all_pos = all_pos.unionByName(
            old.select(
                F.col("__dfp").alias("__file"), "__pos", F.lit(0).alias("__new")
            )
        )

    def _pack(pdf):
        import struct as _struct
        import zlib as _zlib

        import pandas as pd

        from ballista_spark.sources.dvbitmap import encode_rbm_array

        if not int((pdf["__new"] == 1).sum()):
            # stats superset / carried-only descriptor: no new deletion
            return pd.DataFrame(
                {
                    "__file": pd.Series([], dtype=str),
                    "__segment": pd.Series([], dtype=object),
                    "__size": pd.Series([], dtype="int64"),
                    "__card": pd.Series([], dtype="int64"),
                }
            )
        vals = sorted({int(p) for p in pdf["__pos"]})
        data = encode_rbm_array(vals)
        seg = (
            _struct.pack(">I", len(data))
            + data
            + _struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF)
        )
        return pd.DataFrame(
            {
                "__file": [pdf["__file"].iloc[0]],
                "__segment": [seg],
                "__size": [len(data)],
                "__card": [len(vals)],
            }
        )

    packed = {
        r["__file"]: r
        for r in all_pos.groupBy("__file")
        .applyInPandas(
            _pack,
            "__file string, __segment binary, __size long, __card long",
        )
        .collect()
    }

    removes: list[_AddFile] = []
    vec_files: list[tuple[_AddFile, dict]] = []
    for f in candidates:
        seg = packed.get(t.path(f))
        if seg is None:
            continue  # stats superset: no live row actually matched
        removes.append(f)
        n_records = (f.stats or {}).get("numRecords")
        if n_records is not None and int(seg["__card"]) >= int(n_records):
            continue  # every physical row dead: drop the file entirely
        vec_files.append((f, seg))
    if not removes:
        return None

    adds: list[dict] = []
    if "deletionVectors" not in snap.reader_features:
        proto = dict(snap.protocol or {})
        rf = set(proto.get("readerFeatures") or [])
        wf = set(proto.get("writerFeatures") or [])
        # upgrading to v7 writers must ENUMERATE the legacy features the
        # old minWriterVersion implied (spec: table features) — the full
        # 1-6 map; _check_writer_protocol already refused any implied
        # feature this writer couldn't honor
        wf |= _LEGACY_WRITER_FEATURES.get(
            int(proto.get("minWriterVersion", 2)), frozenset()
        )
        # same on the reader side: a minReaderVersion=2 (column-mapped)
        # table upgraded to 3 must keep declaring columnMapping, or
        # other readers would scan physical names unmapped
        rf |= _LEGACY_READER_FEATURES.get(
            int(proto.get("minReaderVersion", 1)), frozenset()
        )
        adds.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": sorted(rf | {"deletionVectors"}),
                    "writerFeatures": sorted(wf | {"deletionVectors"}),
                }
            }
        )
    if vec_files:
        u = _uuid.uuid4()
        enc = z85_encode(u.bytes)
        blob = bytearray(b"\x01")  # DV file format version
        for f, seg in vec_files:
            off = len(blob)
            blob += bytes(seg["__segment"])
            adds.append(
                {
                    "add": {
                        "path": f.path,
                        # the on-disk contract: PHYSICAL keys on mapped
                        # tables (the snapshot normalized to logical)
                        "partitionValues": _physical_partition_values(
                            f.partition_values, snap.column_mapping
                        ),
                        "size": f.size,
                        "modificationTime": _now_ms(),
                        "dataChange": True,
                        "stats": _physical_stats_json(
                            f, snap.column_mapping
                        ),
                        "deletionVector": {
                            "storageType": "u",
                            "pathOrInlineDv": enc,
                            "offset": off,
                            "sizeInBytes": int(seg["__size"]),
                            "cardinality": int(seg["__card"]),
                        },
                    }
                }
            )
        fsio.write_bytes(
            f"{table_path.rstrip('/')}/deletion_vector_{u}.bin", bytes(blob)
        )
    # each remove precedes its file's re-add with the new vector
    return t.commit(
        removes,
        adds,
        "DELETE",
        {
            "predicate": predicate_text,
            "deletionVectors": "true",
        },
    )


def update_delta_table(
    spark: SparkSession,
    table_path: str,
    set_exprs: Mapping[str, object],
    filters: list[tuple[str, str, object]] | Column | None = None,
    alias: str | None = None,
) -> int | None:
    """Copy-on-write ``UPDATE ... SET ... WHERE``: rows matching
    ``filters`` (ALL of the triples, or a Column predicate, as in
    :func:`delete_from_delta_table`) get each ``set_exprs`` column
    replaced by its expression (SQL string or Column), cast back to
    the column's declared type so the table schema never drifts.
    ``filters=None`` is the unconditional full-table UPDATE (SQL allows
    it; every file is rewritten).  Returns the commit version, or None when no row
    matched.  Same touch-only shape as :func:`delete_from_delta_table`
    (``rewrite.update``); non-matching rows inside a touched file are
    carried byte-identical through the rewrite.  ``alias`` qualifies
    columns in ``filters`` and ``set_exprs`` as in
    :func:`delete_from_delta_table`.
    """
    t = _Rewrite(
        spark, table_path, "UPDATE", adds_rows=True, removes_rows=True,
        alias=alias,
    )
    for name in set_exprs:
        if name in t.snap.partition_columns:
            raise ValueError(
                f"SET column {name!r} is a partition column — rewrite "
                "paths would change; use merge_delta_table (delete+insert)"
            )
    return rewrite.update(t, set_exprs, filters)


# ---------------------------------------------------------------------------
# incremental change reads

#: union/exceptAll chains in change-feed reads localCheckpoint every
#: this many commits, bounding logical-plan depth on long windows
CDF_CHECKPOINT_EVERY = 32


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows ADDED in commits ``(from_version, to_version]`` — the
    incremental-consumption face of the log (the batch analogue of the
    Delta change feed, insert-level granularity): a downstream pipeline
    remembers the last version it processed and reads only newer data
    files, never rescanning the table.

    Only ``dataChange: true`` adds count — compaction/clustering
    rewrites are invisible, exactly as a consumer wants.  Each row
    carries its ``_commit_version``.  Update-merges surface their
    rewritten file's rows as adds (the kept rows of a touched file
    reappear); consumers needing exact row-level deltas should pair this
    with a key-based ``corpus_diff`` (operators/mixture.py) downstream.
    """
    versions = [
        v
        for v in _list_log_versions(table_path)
        if from_version < v <= (to_version if to_version is not None else 1 << 60)
    ]
    snap = read_delta_snapshot(table_path)  # schema + partition cols
    data_fields = [
        fld for fld in snap.schema.fields
        if fld.name not in snap.partition_columns
    ]
    # raw commit JSON keys partitionValues by PHYSICAL names on a
    # column-mapped table; remap to logical like read_delta_snapshot
    to_logical = {p: l for l, p in snap.column_mapping.items()}
    out = None
    n_parts = 0
    for v in versions:
        adds = []
        for action in _iter_commit_actions(_commit_path(table_path, v)):
            a = action.get("add")
            if a and a.get("dataChange", True):
                dv = a.get("deletionVector")
                adds.append(
                    _AddFile(
                        path=_normalize_rel(table_path, a["path"]),
                        partition_values={
                            to_logical.get(k, k): val
                            for k, val in (
                                a.get("partitionValues") or {}
                            ).items()
                        },
                        size=int(a.get("size") or 0),
                        stats=None,
                        deletion_vector=(
                            dict(dv) if isinstance(dv, dict) else None
                        ),
                    )
                )
        if not adds:
            continue
        vsnap = snap.with_files(adds)
        part = _scan_snapshot(spark, vsnap).withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        out = part if out is None else out.unionByName(part)
        n_parts += 1
        if n_parts % CDF_CHECKPOINT_EVERY == 0:
            out = out.localCheckpoint(eager=True)  # bound plan depth
    if out is None:
        empty_schema = T.StructType(
            list(snap.schema.fields)
            + [T.StructField("_commit_version", T.LongType())]
        )
        return spark.createDataFrame([], empty_schema)
    return out


def read_delta_cdf(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """EXACT row-level change feed for commits ``(from_version,
    to_version]``: each changed row appears once with ``_change_type``
    (``insert`` | ``delete``; an update is its delete+insert pair) and
    ``_commit_version`` — the CDC-consumer face the plain
    :func:`read_delta_changes` can't provide (it resurfaces a rewritten
    file's CARRIED rows).

    Per commit: pure appends emit their rows as inserts (no diff work);
    rewrite commits (UPDATE/DELETE/MERGE/overwrite) diff the removed
    files' rows against the added files' rows as multisets
    (``exceptAll`` both ways), so carried rows cancel exactly and only
    real changes surface.  ``dataChange: false`` rewrites (compaction/
    clustering) and metadata-only commits emit nothing.  Cost tracks
    the TOUCHED files per commit — for touch-only mutations that is the
    mutation size, not the table.

    Needs the removed files still on disk (they are, until
    ``vacuum_delta_table`` passes their tombstones' retention); a
    vacuumed gap raises rather than under-reporting deletes.  Pre-ALTER
    commits surface under the final window schema with NULL for
    columns that didn't exist yet.
    """
    versions = [
        v
        for v in _list_log_versions(table_path)
        if from_version < v <= (to_version if to_version is not None else 1 << 60)
    ]
    final = read_delta_snapshot(
        table_path, versions[-1] if versions else None
    )
    # window-sized snapshot memo: commit v's post-snapshot IS commit
    # v+1's pre-snapshot — without it the loop replays the log
    # O(window²) times (review finding)
    _snap_memo: dict[int, DeltaSnapshot] = {final.version: final}

    def _snap_at(ver: int) -> DeltaSnapshot:
        if ver not in _snap_memo:
            _snap_memo[ver] = read_delta_snapshot(table_path, ver)
        return _snap_memo[ver]

    final_types = {f.name: f.dataType for f in final.schema.fields}
    parts: list[DataFrame] = []
    for v in versions:
        added_rel: set[str] = set()
        removed_rel: set[str] = set()
        for action in _iter_commit_actions(_commit_path(table_path, v)):
            a = action.get("add")
            if a and a.get("dataChange", True):
                added_rel.add(_normalize_rel(table_path, a["path"]))
            r = action.get("remove")
            if r and r.get("dataChange", True):
                removed_rel.add(_normalize_rel(table_path, r["path"]))
        if not added_rel and not removed_rel:
            continue  # metadata-only / dataChange:false commit

        def _side(rel_paths: set[str], snap_at: DeltaSnapshot) -> DataFrame:
            files = [f for f in snap_at.files if f.path in rel_paths]
            missing = rel_paths - {f.path for f in files}
            if missing:
                raise DeltaProtocolError(
                    f"commit {v} references files absent from the "
                    f"version-{snap_at.version} snapshot: {sorted(missing)[:3]}"
                )
            for f in files:
                full = os.path.join(table_path, f.path)
                if not fsio.exists(full):
                    raise DeltaProtocolError(
                        f"data file {f.path!r} was vacuumed — the CDF for "
                        f"commit {v} can no longer be reconstructed"
                    )
            return _scan_snapshot(spark, snap_at.with_files(files))

        new_df = _side(added_rel, _snap_at(v)) if added_rel else None
        old_df = _side(removed_rel, _snap_at(v - 1)) if removed_rel else None
        # aligned to the FINAL window schema (an ALTER inside the window
        # must not make early commits un-unionable / un-selectable)
        changes = rewrite.row_changes(new_df, old_df, final_types)
        parts.append(
            changes.withColumn("_commit_version", F.lit(v).cast("long"))
        )
    return rewrite.union_changes(
        spark, parts, final.schema, ["_commit_version"], CDF_CHECKPOINT_EVERY
    )
