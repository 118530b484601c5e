"""Apache Iceberg table READER — pure-Python metadata plane over the
engine's stdlib Avro codec (`sources/avroio.py`), Spark data plane.

Implements the read side of the public Iceberg table spec
(iceberg.apache.org/spec, format versions 1 and 2) without the
iceberg-spark runtime jars: ``metadata/vN.metadata.json`` (located via
``version-hint.text`` or the highest version file), the current or a
named snapshot, its Avro manifest list, the Avro manifests, and the
per-file column bounds that drive file skipping.  Data files then read
through ONE ``spark.read.parquet`` — Iceberg data files physically
contain every column including identity-partition columns, so no
partition reconstruction is needed (simpler than the Delta source).

Scale design mirrors ``deltalog``: metadata is driver-side and snapshot
-bounded (one manifest list + its manifests — Iceberg's own metadata
tree is the pruning index; a 10M-file table's manifest list lets the
reader skip whole manifests by partition summary before opening them),
file skipping happens before Spark lists anything, and the scan itself
is the engine's standard pushdown/pruning parquet path.

Supported subset (checked, not assumed): format-version ≤ 3 reads,
append/overwrite snapshots, identity partition transforms for summary
pruning (non-identity transforms read correctly — they simply don't
prune), primitive + list/map/struct types.  v3 DELETION VECTORS
(round 9): Puffin-stored ``deletion-vector-v1`` blobs (whose payload
magic D1D33964 is byte-identical to Delta's RoaringBitmapArray — one
codec, ``dvbitmap.py``, serves both) resolve through the delete
manifest's referenced_data_file/content_offset/content_size_in_bytes
and apply as the same (file, position) anti-join as v2 position
deletes, with the deltalog decode-placement policy (driver for small
local vectors, mapInPandas otherwise).  v3 WRITES refuse loudly
(row-lineage bookkeeping this writer does not produce).  v3
``initial-default`` schemas READ correctly for top-level primitive
fields (round 10): files whose footers lack the field — written
before it existed — fill the default constant, files carrying it keep
actual values including genuine NULLs; nested or
non-literal-materializable defaults still refuse loudly.
v2 merge-on-read POSITION
delete files are applied EXACTLY (round 7): one anti-join of the scan's
``_metadata.(file_path, row_index)`` against the tombstone files — a
(file, pos) tombstone can never hit a row written after it, so no
sequence-number scoping is needed.  EQUALITY delete files are applied
with sequence-number scoping (round 7): a delete at sequence S removes
matching rows only from data files with sequence < S, so a later
re-insert of the same key survives — each row learns its file's
sequence via one broadcast join against the manifest map, then deletes
sharing a column set union into one null-safe anti-join with the
``data_seq < delete_seq`` condition.  Still refused loudly:
non-parquet delete files and equality deletes missing
``equality_ids``.

The reference engine has no table-format layer (CSV/Parquet/Avro file
scans only, `rust/core/proto/ballista.proto:244-258`); with
``deltalog`` this completes both open lakehouse formats, beyond-parity.

WRITE side (round 7): ``write_iceberg_table`` produces spec
format-version 1 tables — append and overwrite snapshots, one Avro
manifest per commit plus a full manifest list, per-file Appendix-D
column bounds (the same bounds this reader prunes on), and optimistic
concurrency through exclusive-create of ``vN.metadata.json`` at the
version the writer read + 1, retried on a lost race by the commit loop
the Delta log shares (``occ.commit``; every data-changing writer
commits through ``_commit_snapshot``).  v1 until the first merge-on-read position
DELETE upgrades the table to v2, after which every snapshot takes a
sequence number.  Row-level DELETE defaults to copy-on-write
(``delete_from_iceberg_table``: bounds-pruned, probed touch-only
rewrite — DML and compaction run the row-level core shared with the
Delta writer, ``sources/rewrite.py``), alongside ``compact_iceberg_table``
(replace snapshots) and ``expire_iceberg_snapshots`` (time-travel
window maintenance).  Unpartitioned layout: Iceberg data files always
carry every column, and file skipping here rides the column bounds —
the mechanism Iceberg itself uses within a partition.
"""

from __future__ import annotations

import copy
import functools
import json
import os
import struct

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ballista_spark.sources import fsio, occ, rewrite
from ballista_spark.sources.avroio import (
    read_avro_bytes,
    read_avro_projected,
)
from ballista_spark.sources.decodecache import DecodeCache
from ballista_spark.sources.dvbitmap import tombstones
from ballista_spark.sources.rewrite import decoded_file_path

__all__ = [
    "read_iceberg_table",
    "read_iceberg_snapshot",
    "read_iceberg_changelog",
    "write_iceberg_table",
    "compact_iceberg_table",
    "delete_from_iceberg_table",
    "update_iceberg_table",
    "alter_iceberg_table",
    "rename_iceberg_column",
    "merge_iceberg_table",
    "expire_iceberg_snapshots",
    "spark_to_iceberg_schema",
    "encode_bound",
    "decode_bound",
    "IcebergSnapshot",
    "IcebergFeatureError",
]


class IcebergFeatureError(RuntimeError):
    """Table uses a spec feature outside the implemented subset."""


# ---------------------------------------------------------------------------
# schema: Iceberg JSON types → Spark


def iceberg_to_spark_type(t) -> T.DataType:
    if isinstance(t, str):
        if t.startswith("decimal"):
            raise IcebergFeatureError("decimal columns unsupported")
        if t.startswith("fixed"):
            return T.BinaryType()
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "date": T.DateType(),
            "time": T.LongType(),  # micros since midnight (no TimeType)
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType(),
            "string": T.StringType(),
            "uuid": T.StringType(),
            "binary": T.BinaryType(),
        }
        if t in prim:
            return prim[t]
        raise IcebergFeatureError(f"unsupported iceberg type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    iceberg_to_spark_type(f["type"]),
                    nullable=not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            iceberg_to_spark_type(t["element"]),
            containsNull=not t.get("element-required", False),
        )
    if kind == "map":
        if t.get("key") != "string":
            raise IcebergFeatureError("non-string map keys unsupported")
        return T.MapType(
            T.StringType(),
            iceberg_to_spark_type(t["value"]),
            valueContainsNull=not t.get("value-required", False),
        )
    raise IcebergFeatureError(f"unsupported iceberg type {t!r}")


def _field_ids(schema_json: dict) -> dict[int, tuple[str, str]]:
    """field-id → (name, iceberg primitive type) for TOP-LEVEL fields —
    the bounds maps are keyed by field id."""
    out = {}
    for f in schema_json.get("fields", []):
        if isinstance(f["type"], str):
            out[int(f["id"])] = (f["name"], f["type"])
    return out


# ---------------------------------------------------------------------------
# single-value (bounds) decoding — spec Appendix D "Single-value
# serialization": little-endian fixed widths, UTF-8 strings


def decode_bound(raw: bytes | None, iceberg_type: str):
    if raw is None:
        return None
    raw = bytes(raw)
    try:
        if iceberg_type == "int" or iceberg_type == "date":
            return struct.unpack("<i", raw)[0]
        if iceberg_type in ("long", "timestamp", "timestamptz", "time"):
            return struct.unpack("<q", raw)[0]
        if iceberg_type == "float":
            return struct.unpack("<f", raw)[0]
        if iceberg_type == "double":
            return struct.unpack("<d", raw)[0]
        if iceberg_type == "string":
            return raw.decode("utf-8")
        if iceberg_type == "boolean":
            return raw == b"\x01"
    except (struct.error, UnicodeDecodeError):
        return None
    return None  # binary/uuid/fixed: no ordering we trust


def _kv_get(v, fid: int):
    """One field id's value from a raw bounds map (either avro form)
    without materializing the whole id-map — the lazy-bounds lookup."""
    if v is None:
        return None
    if isinstance(v, dict):
        got = v.get(fid)  # int keys: the kv_arrays_as_maps decode
        return v.get(str(fid)) if got is None else got
    for item in v:
        if int(item["key"]) == fid:
            return item["value"]
    return None


class _LazyBounds:
    """Per-file ``{column: (lo, hi)}`` decoded from the manifest
    entry's RAW Appendix-D bytes on FIRST touch per column (round-10
    ask #1): a filter-less read of a 1M-file table pays zero
    ``decode_bound`` calls, a filtered read decodes only the columns
    it compares, and the raw k-v lists are SHARED with the manifest
    cache — the snapshot holds no per-entry copy.  Read-only mapping
    face (``in`` / ``[]`` / ``get`` / ``items``), the surface
    ``_bounds_may_match`` and existing callers use."""

    __slots__ = ("_lo", "_hi", "_by_name", "_memo")

    def __init__(self, lo, hi, by_name):
        self._lo = lo          # raw lower_bounds (avro list/map), may be None
        self._hi = hi
        self._by_name = by_name  # SHARED per-snapshot {name: (fid, type)}
        self._memo = None

    def _pair(self, col):
        memo = self._memo
        if memo is None:
            memo = self._memo = {}
        elif col in memo:
            return memo[col]
        info = self._by_name.get(col)
        pair = None
        if info is not None:
            fid, ftype = info
            lo = decode_bound(_kv_get(self._lo, fid), ftype)
            hi = decode_bound(_kv_get(self._hi, fid), ftype)
            if lo is not None or hi is not None:
                pair = (lo, hi)
        memo[col] = pair
        return pair

    def __contains__(self, col):
        return self._pair(col) is not None

    def __getitem__(self, col):
        pair = self._pair(col)
        if pair is None:
            raise KeyError(col)
        return pair

    def get(self, col, default=None):
        pair = self._pair(col)
        return default if pair is None else pair

    def _all(self) -> dict:
        out = {}
        for name in self._by_name:
            pair = self._pair(name)
            if pair is not None:
                out[name] = pair
        return out

    def items(self):
        return self._all().items()

    def keys(self):
        return self._all().keys()

    def __iter__(self):
        return iter(self._all())

    def __len__(self):
        return len(self._all())

    def __bool__(self):
        return bool(self._all())

    def __eq__(self, other):
        if isinstance(other, _LazyBounds):
            other = other._all()
        if isinstance(other, dict):
            return self._all() == other
        return NotImplemented

    def __repr__(self):
        return f"_LazyBounds({self._all()!r})"


# ---------------------------------------------------------------------------
# snapshot


class IcebergSnapshot:
    """Resolved state: schema, live data files with decoded bounds."""

    def __init__(
        self, table_path, snapshot_id, schema, spark_schema, files,
        delete_files=None, eq_deletes=None, file_seqs=None,
        dv_deletes=None,
    ):
        self.table_path = table_path
        self.snapshot_id = snapshot_id
        self.schema_json = schema
        self.spark_schema = spark_schema
        self.files = files  # [(path, record_count, {id: (lo, hi)})]
        self.delete_files = delete_files or []  # positional-delete paths
        #: equality-delete files: [(path, data_sequence_number, (col, ...))]
        self.eq_deletes = eq_deletes or []
        #: data-file path -> data sequence number (equality-delete scoping)
        self.file_seqs = file_seqs or {}
        #: v3 deletion vectors:
        #: [(puffin_path, referenced_data_file, offset, size, cardinality)]
        self.dv_deletes = dv_deletes or []
        self.files_pruned = 0
        #: whole manifests skipped by partition summaries (filters)
        self.manifests_pruned = 0
        #: a rename exists in the schema history → the scan must
        #: resolve parquet columns by field id, not name
        self.field_id_binding = False
        #: v3 {field_name: (json_default, iceberg_type)} — files
        #: written before the field existed read the default
        self.initial_defaults: dict = {}

    @property
    def num_files(self) -> int:
        return len(self.files)


def _norm_path(table_path: str, p: str) -> str:
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    if "://" in p:
        return p  # absolute URI (manifests usually store these)
    if not os.path.isabs(p):
        p = os.path.join(table_path, p)
    return p


def _abs_path(table_path: str, p: str) -> str:
    """A manifest path as ``rewrite.decoded_file_path`` spells it."""
    p = _norm_path(table_path, p)
    if fsio.is_local(p) and not os.path.isabs(p):
        p = os.path.abspath(p)
    return p


#: Manifests are IMMUTABLE once written (the Iceberg contract: a new
#: snapshot writes NEW manifest files), so their decoded entries
#: LRU-cache across snapshot resolutions — the per-query production
#: pattern.  A 1M-entry manifest is ~20-30 s of pure-Python Avro
#: decode (measured, tools/meta_scale.py), paid once instead of once
#: per query.  Shared implementation: sources/decodecache.py
#: (thread-safe, (path, size, mtime) keys, stat-verified, mtime-less
#: stores never cached).
_MANIFEST_CACHE = DecodeCache(max_items=2_000_000)


def _read_manifest(path: str) -> list[dict]:
    """Decoded entries of one manifest Avro file, cached.  Callers
    must treat the records as READ-ONLY (every write path already
    copies before modifying).  ``kv_arrays_as_maps``: the spec's
    bounds/counts k_v arrays decode as plain ``{id: value}`` dicts —
    ~25% less decode time and RSS per entry; ``_kv_get`` accepts both
    forms and the Avro encoder re-emits dicts as k/v records, so
    carried-forward entries round-trip byte-identically."""
    return _MANIFEST_CACHE.get_or_decode(
        path,
        lambda: read_avro_bytes(
            fsio.read_bytes(path), kv_arrays_as_maps=True
        )[0],
    )


def _manifest_records(table_path: str, snap: dict) -> list[dict]:
    """The manifest-list records of one snapshot."""
    return read_avro_bytes(
        fsio.read_bytes(_norm_path(table_path, snap["manifest-list"]))
    )[0]


#: compact scan-row slots (see _manifest_scan_rows)
_SR_STATUS, _SR_SEQ, _SR_CONTENT, _SR_FMT, _SR_PATH, _SR_RC = range(6)
_SR_LO, _SR_HI, _SR_EQIDS, _SR_REF, _SR_OFF, _SR_SIZE = range(6, 12)


def _manifest_scan_rows(path: str) -> list[tuple]:
    """The READ path's compact per-manifest form: one 12-slot tuple per
    entry holding exactly what snapshot resolution consumes (status,
    seq, content, format, path, record_count, RAW bounds maps, and the
    delete-entry fields), built STREAMING block-by-block so the full
    dict form never exists at once.  At 1M entries this is the
    difference between ~1.5 GB and ~0.6 GB of cached driver RSS and
    cuts the per-entry field lookups out of every warm resolution
    (round-10 ask #1).  Write paths keep :func:`_read_manifest` (full
    entries, carried forward verbatim); the two representations cache
    under different tags."""

    def build() -> list[tuple]:
        return read_avro_projected(
            fsio.read_bytes(path),
            _SCAN_ROW_PATHS,
            kv_arrays_as_maps=True,
        )

    return _MANIFEST_CACHE.get_or_decode(path, build, tag="scan")


_SCAN_ROW_PATHS = [
    ("status",),
    ("sequence_number",),
    ("data_file", "content"),
    ("data_file", "file_format"),
    ("data_file", "file_path"),
    ("data_file", "record_count"),
    ("data_file", "lower_bounds"),
    ("data_file", "upper_bounds"),
    ("data_file", "equality_ids"),
    ("data_file", "referenced_data_file"),
    ("data_file", "content_offset"),
    ("data_file", "content_size_in_bytes"),
]


def _metadata_versions(meta_dir: str) -> list[int]:
    return sorted(
        int(n[1:].split(".")[0])
        for n in fsio.listdir(meta_dir)
        if n.startswith("v") and n.endswith(".metadata.json")
        and n[1:].split(".")[0].isdigit()
    )


def _load_metadata(table_path: str, hint: bool = True) -> tuple[int, dict]:
    """(version, metadata) of the current ``vN.metadata.json``: the hint
    when present and ``hint``, else the highest version on disk
    (hint-less tables read fine and must write fine too).  Writers
    commit at this version + 1 through :func:`_commit`; after a lost
    race they re-read without the hint, which may still name the
    version the winner took."""
    meta_dir = os.path.join(table_path, "metadata")
    hint_path = os.path.join(meta_dir, "version-hint.text")
    if hint and fsio.exists(hint_path):
        version = int(fsio.read_text(hint_path).strip())
    else:
        versions = _metadata_versions(meta_dir)
        if not versions:
            raise FileNotFoundError(f"no Iceberg metadata under {table_path!r}")
        version = versions[-1]
    md = json.loads(
        fsio.read_text(os.path.join(meta_dir, f"v{version}.metadata.json"))
    )
    if int(md.get("format-version", 1)) > 3:
        raise IcebergFeatureError(
            f"format-version {md['format-version']} > 3 unsupported"
        )
    return version, md


def _refuse_v3_write(md: dict, op: str) -> None:
    """Mutations on format-version 3 tables refuse: this writer emits
    v1/v2-shaped metadata and does not maintain v3 invariants (row
    lineage next-row-id, DV-only position deletes).  Reads — including
    deletion vectors — are supported."""
    if int(md.get("format-version", 1)) >= 3:
        raise IcebergFeatureError(
            f"{op} on a format-version 3 Iceberg table is not supported "
            "by this writer (reads incl. deletion vectors are) — v3 "
            "writes require row-lineage bookkeeping this engine does "
            "not produce"
        )


def _current_schema(md: dict) -> dict:
    if "schemas" in md:  # v2
        sid = md.get("current-schema-id", 0)
        for s in md["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
    return md["schema"]  # v1


#: initial-default types this reader can materialize as a Spark
#: literal from the spec's JSON single-value serialization
_DEFAULTABLE_TYPES = {
    "boolean", "int", "long", "float", "double", "string", "date",
}


def _collect_initial_defaults(schema: dict) -> dict:
    """v3 ``initial-default`` handling (round 10: refusal → support for
    TOP-LEVEL primitive fields).  Returns ``{field_name: (json_value,
    iceberg_type)}`` — the main reader fills the default for files
    written before the field existed (their footers lack the field).
    Still refuses loudly where silent NULLs could otherwise slip out:
    defaults on NESTED fields (the per-file column-presence probe and
    fill cover top-level fields only) and on types whose JSON
    single-value form this reader does not materialize."""
    out: dict = {}
    for fld in schema.get("fields") or []:
        dv = fld.get("initial-default")
        if dv is not None:
            ftype = fld.get("type")
            if not isinstance(ftype, str) or ftype not in _DEFAULTABLE_TYPES:
                raise IcebergFeatureError(
                    f"column {fld.get('name')!r} declares a v3 "
                    f"initial-default of type {ftype!r} — this reader "
                    "materializes defaults only for "
                    f"{sorted(_DEFAULTABLE_TYPES)} and refuses rather "
                    "than return NULL for pre-existing rows"
                )
            out[fld["name"]] = (dv, ftype)

    def walk_fields(fields, prefix: str) -> None:
        for fld in fields or []:
            name = f"{prefix}{fld.get('name')}"
            if fld.get("initial-default") is not None:
                raise IcebergFeatureError(
                    f"column {name!r} declares a v3 initial-default on "
                    "a NESTED field — this reader fills defaults for "
                    "top-level fields only and refuses rather than "
                    "return NULL for pre-existing rows"
                )
            walk_type(fld.get("type"), name + ".")

    def walk_type(typ, prefix: str) -> None:
        if not isinstance(typ, dict):
            return  # primitive
        t = typ.get("type")
        if t == "struct":
            walk_fields(typ.get("fields"), prefix)
        elif t == "list":
            walk_type(typ.get("element"), prefix + "element.")
        elif t == "map":
            walk_type(typ.get("key"), prefix + "key.")
            walk_type(typ.get("value"), prefix + "value.")

    for fld in schema.get("fields") or []:
        walk_type(fld.get("type"), f"{fld.get('name')}.")
    return out


def _partition_spec_fields(md: dict) -> dict[int, list]:
    """spec-id → partition field list (v2 ``partition-specs`` or the v1
    flat ``partition-spec``)."""
    specs: dict[int, list] = {}
    for s in md.get("partition-specs") or []:
        specs[int(s.get("spec-id", 0))] = list(s.get("fields") or [])
    if not specs and md.get("partition-spec"):
        specs[0] = list(md["partition-spec"])
    return specs


def _manifest_may_match(mrec: dict, spec_fields: list, ids: dict,
                        filters) -> bool:
    """Proof-based MANIFEST skip from the manifest-list entry's
    partition field summaries (round-10 ask #1: whole manifests prune
    before any entry decode).  Identity transforms only — any other
    transform, missing summary, or undecodable bound keeps the
    manifest.  Comparison predicates exclude NULL rows by SQL
    semantics, so ``contains_null`` cannot rescue a bounds-excluded
    manifest — but ``contains_nan`` CAN: the spec excludes NaN from
    float/double bounds while Spark SQL orders NaN above every number,
    so a NaN-holding manifest must survive ``>``/``>=`` pruning
    (review finding: a bounds-only skip would silently drop NaN
    rows)."""
    summaries = mrec.get("partitions")
    if not summaries or not spec_fields:
        return True
    for i, pf in enumerate(spec_fields):
        if i >= len(summaries):
            break
        if pf.get("transform") != "identity":
            continue
        src = ids.get(int(pf.get("source-id", -1)))
        if src is None:
            continue
        name, ftype = src
        fsum = summaries[i]
        if not isinstance(fsum, dict):
            continue
        lo = decode_bound(fsum.get("lower_bound"), ftype)
        hi = decode_bound(fsum.get("upper_bound"), ftype)
        if lo is None and hi is None:
            continue
        has_nan = bool(fsum.get("contains_nan"))
        b = {name: (lo, hi)}
        for c, op, v in filters:
            if c != name or op not in ("=", "<", "<=", ">", ">="):
                continue
            if has_nan and op in (">", ">="):
                continue  # NaN > every number in Spark's ordering
            if not _bounds_may_match(b, c, op, v):
                return False
    return True


def read_iceberg_snapshot(
    table_path: str,
    snapshot_id: int | None = None,
    filters: list[tuple[str, str, object]] | None = None,
) -> IcebergSnapshot:
    """Resolve the current (or named) snapshot to its live data-file
    list with lazily-decoded per-file column bounds — driver-side,
    metadata tree only.  Advisory ``filters`` additionally skip whole
    manifests whose manifest-list partition summaries PROVE no entry
    can match (identity partition transforms), before any entry
    decode; per-file bounds pruning stays the caller's move
    (:func:`read_iceberg_table`)."""
    _, md = _load_metadata(table_path)
    return _resolve_snapshot(table_path, md, snapshot_id, filters)


def _resolve_snapshot(
    table_path: str,
    md: dict,
    snapshot_id: int | None = None,
    filters: list[tuple[str, str, object]] | None = None,
) -> IcebergSnapshot:
    """:func:`read_iceberg_snapshot` over metadata already read (a
    writer resolves the version it will commit on)."""
    schema = _current_schema(md)
    initial_defaults = _collect_initial_defaults(schema)
    spark_schema = iceberg_to_spark_type(schema)
    snaps = md.get("snapshots") or []
    if snapshot_id is None:
        snapshot_id = md.get("current-snapshot-id")
    field_id_binding = _rename_in_history(md, schema)
    snap = next(
        (s for s in snaps if s.get("snapshot-id") == snapshot_id), None
    )
    if snap is None:
        if snapshot_id in (None, -1) and not snaps:
            empty = IcebergSnapshot(
                table_path, None, schema, spark_schema, []
            )
            empty.field_id_binding = field_id_binding
            empty.initial_defaults = initial_defaults
            return empty
        raise ValueError(f"snapshot {snapshot_id} not found")

    ids = _field_ids(schema)
    by_name = {name: (fid, ftype) for fid, (name, ftype) in ids.items()}
    files: list[tuple[str, int, dict]] = []
    file_seq_list: list[int] = []
    delete_files: list[str] = []
    eq_deletes: list[tuple[str, int, tuple]] = []
    dv_deletes: list[tuple[str, str, int, int, int]] = []
    manifests_pruned = 0

    if "manifest-list" in snap:  # v2 (and v1 with list)
        manifests = _manifest_records(table_path, snap)
        if filters:
            # whole-manifest skip from partition field summaries —
            # DATA manifests only (content 0): a skipped data
            # manifest's entries would all fall to the same bounds
            # prune later, while delete manifests must always load
            # (their tombstones may hit kept files)
            specs = _partition_spec_fields(md)
            kept_manifests = []
            for m in manifests:
                if int(m.get("content") or 0) == 0 and not (
                    _manifest_may_match(
                        m,
                        specs.get(int(m.get("partition_spec_id") or 0), []),
                        ids,
                        filters,
                    )
                ):
                    manifests_pruned += 1
                    continue
                kept_manifests.append(m)
            manifests = kept_manifests
        manifest_paths = [m["manifest_path"] for m in manifests]
        manifest_seqs = {
            m["manifest_path"]: int(m.get("sequence_number") or 0)
            for m in manifests
        }
    else:  # v1 inline manifests array
        manifest_paths = list(snap.get("manifests") or [])
        manifest_seqs = {}

    snap_seq = int(snap.get("sequence-number") or 0)
    files_append = files.append
    seq_append = file_seq_list.append
    for mp in manifest_paths:
        inherited_seq = manifest_seqs.get(mp, snap_seq)
        for row in _manifest_scan_rows(_norm_path(table_path, mp)):
            if row[_SR_STATUS] == 2:  # DELETED
                continue
            content = row[_SR_CONTENT]
            if content != 1 and content != 2:  # data file — the common case
                fmt = row[_SR_FMT]
                if fmt != "PARQUET":
                    fmt = (fmt or "PARQUET").upper()
                if fmt != "PARQUET":
                    raise IcebergFeatureError(
                        f"{fmt} data files unsupported"
                    )
                p = row[_SR_PATH]
                # fast path: absolute non-URI paths (the overwhelmingly
                # common manifest spelling) skip _norm_path's checks —
                # measured ~0.5 s/1M entries on snapshot resolution
                fp = p if p[:1] == "/" else _norm_path(table_path, p)
                # spec inheritance: a null sequence_number on an ADDED
                # entry takes the manifest's (which took the commit's)
                seq = row[_SR_SEQ]
                seq_append(inherited_seq if seq is None else int(seq))
                files_append(
                    (
                        fp,
                        int(row[_SR_RC] or 0),
                        _LazyBounds(row[_SR_LO], row[_SR_HI], by_name),
                    )
                )
                continue
            fmt = (row[_SR_FMT] or "PARQUET").upper()
            seq = row[_SR_SEQ]
            seq = inherited_seq if seq is None else int(seq)
            if content == 1:  # POSITION deletes: exactly supported.
                # A (file, pos) tombstone can never hit a row written
                # after it (later rows live in new files), so applying
                # every positional delete in the snapshot needs no
                # sequence-number scoping — unlike equality deletes.
                if fmt == "PUFFIN":
                    # v3 deletion vector: one roaring bitmap per
                    # referenced data file, inside a Puffin blob
                    ref = row[_SR_REF]
                    off = row[_SR_OFF]
                    size = row[_SR_SIZE]
                    if not ref or off is None or size is None:
                        raise IcebergFeatureError(
                            "PUFFIN delete entry lacks referenced_data_"
                            "file/content_offset/content_size_in_bytes"
                        )
                    dv_deletes.append(
                        (
                            _norm_path(table_path, row[_SR_PATH]),
                            ref,
                            int(off),
                            int(size),
                            int(row[_SR_RC] or 0),
                        )
                    )
                    continue
                if fmt != "PARQUET":
                    raise IcebergFeatureError(
                        f"{fmt} delete files unsupported"
                    )
                delete_files.append(_norm_path(table_path, row[_SR_PATH]))
                continue
            if content == 2:
                # v2 EQUALITY deletes, sequence-scoped (spec: the delete
                # applies to data files whose data sequence number is
                # STRICTLY LESS than the delete file's — so a later
                # re-insert of the same key survives)
                if fmt != "PARQUET":
                    raise IcebergFeatureError(
                        f"{fmt} delete files unsupported"
                    )
                eq_ids = [int(i) for i in (row[_SR_EQIDS] or [])]
                if not eq_ids:
                    raise IcebergFeatureError(
                        "equality delete file lists no equality_ids"
                    )
                missing = [i for i in eq_ids if i not in ids]
                if missing:
                    raise IcebergFeatureError(
                        f"equality delete references dropped/unknown field "
                        f"ids {missing} — cannot apply by name"
                    )
                eq_deletes.append(
                    (
                        _norm_path(table_path, row[_SR_PATH]),
                        seq,
                        tuple(ids[i][0] for i in eq_ids),
                    )
                )
    # the {path: seq} map only serves equality-delete scoping — on the
    # common no-eq-delete table it would be 1M dead dict entries
    file_seqs = (
        {f[0]: s for f, s in zip(files, file_seq_list)} if eq_deletes else {}
    )
    out = IcebergSnapshot(
        table_path, snapshot_id, schema, spark_schema, files, delete_files,
        dv_deletes=dv_deletes,
        eq_deletes=eq_deletes, file_seqs=file_seqs,
    )
    out.manifests_pruned = manifests_pruned
    out.field_id_binding = field_id_binding
    out.initial_defaults = initial_defaults
    return out


def _bounds_may_match(bounds: dict, col: str, op: str, value) -> bool:
    """Proof-based skip on decoded (lo, hi) — same contract as the Delta
    source's ``_file_may_match``: prune only on proof."""
    if col not in bounds:
        return True
    lo, hi = bounds[col]
    try:
        if op == "=":
            if lo is not None and value < lo:
                return False
            if hi is not None and value > hi:
                return False
        elif op in ("<", "<=") and lo is not None:
            return lo < value if op == "<" else lo <= value
        elif op in (">", ">=") and hi is not None:
            return hi > value if op == ">" else hi >= value
    except TypeError:
        return True  # incomparable types: keep
    return True


#: test hook: force the executor path regardless of size/locality
DV_DECODE_FORCE_EXECUTOR = False


def _read_dv_positions(
    puffin_path: str, offset: int, size: int, cardinality: int
) -> list[int]:
    """Ranged read + decode of one deletion-vector-v1 blob; worker-safe
    (fsio-routed), never reads the whole Puffin file."""
    from ballista_spark.sources.dvbitmap import unpack_iceberg_dv

    with fsio.open_input(puffin_path) as f:
        f.seek(offset)
        seg = f.read(size)
    pos = unpack_iceberg_dv(seg, 0, size)
    if cardinality and len(pos) != cardinality:
        raise IcebergFeatureError(
            f"deletion-vector cardinality mismatch: manifest says "
            f"{cardinality}, bitmap holds {len(pos)}"
        )
    return pos


def _dv_tombstones(spark: SparkSession, snap: IcebergSnapshot) -> DataFrame:
    """(data file path, row position) tombstones for every v3 deletion
    vector in the snapshot (``dvbitmap.tombstones``).  Paths normalize
    exactly like the parquet position-delete side (file: URI stripped;
    relative paths rooted at the table)."""
    return tombstones(
        spark,
        [
            (_abs_path(snap.table_path, ref), int(card), puffin, int(off), int(size),
             int(card))
            for puffin, ref, off, size, card in snap.dv_deletes
        ],
        _read_dv_positions,
        fsio.is_local(snap.table_path) and not DV_DECODE_FORCE_EXECUTOR,
    )


def read_iceberg_table(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    filters: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """The Iceberg table at the current (or named) snapshot as a
    DataFrame — ONE parquet scan over the live files, with the same
    advisory driver-side ``filters`` contract as
    :func:`deltalog.read_delta_table` (skip whole manifests by
    partition summary, prune files by manifest bounds, still apply the
    real ``.where`` for row-level filtering + parquet row-group
    skipping)."""
    snap = read_iceberg_snapshot(table_path, snapshot_id, filters=filters)
    if filters:
        kept = [
            f
            for f in snap.files
            if all(_bounds_may_match(f[2], c, op, v) for (c, op, v) in filters)
        ]
        snap.files_pruned = len(snap.files) - len(kept)
        snap.files = kept
    return _scan_snapshot(spark, snap)


def _scan_snapshot(
    spark: SparkSession,
    snap: IcebergSnapshot,
    file_col: str | None = None,
    pos_col: str | None = None,
) -> DataFrame:
    """ONE parquet scan of ``snap.files`` with every delete file of the
    snapshot applied; ``file_col`` / ``pos_col`` optionally carry each
    row's decoded source-file path (``rewrite.decoded_file_path``) and
    physical row position, captured at the scan stage."""
    files = snap.files
    if not files:
        return spark.createDataFrame([], snap.spark_schema)
    read_schema = snap.spark_schema
    if snap.field_id_binding:
        # a rename exists in the schema history: pre-rename files carry
        # OLD column names, so the scan binds by parquet field id (the
        # spec's actual resolution contract).  The conf is sticky on
        # the session — harmless for schemas without id metadata, and
        # it must hold at EXECUTION time (the scan is lazy).  A legacy
        # id-less file under a renamed schema fails LOUDLY in Spark
        # ("file schema doesn't contain any field Ids") rather than
        # reading wrong-shaped — rename_iceberg_column proves this
        # can't happen for tables renamed through this engine.
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        read_schema = _spark_schema_with_field_ids(
            snap.spark_schema, snap.schema_json
        )
    has_deletes = bool(
        snap.delete_files or snap.eq_deletes or snap.dv_deletes
    )
    tag = has_deletes or bool(file_col or pos_col)
    if snap.initial_defaults:
        df = _scan_with_initial_defaults(
            spark, read_schema, [f[0] for f in files], snap, tag=tag
        )
    else:
        df = spark.read.schema(read_schema).parquet(*[f[0] for f in files])
        if tag:
            df = df.withColumns(
                {
                    "__dfp": decoded_file_path(),
                    "__pos": F.col("_metadata.row_index"),
                }
            )
    if not tag:
        return df
    out_cols = [F.col(f.name) for f in snap.spark_schema.fields] + [
        F.col(src).alias(c)
        for src, c in (("__dfp", file_col), ("__pos", pos_col))
        if c
    ]
    tagged = df
    if snap.delete_files:
        # v2 POSITION deletes: one anti-join on (file, row position).
        # The row side uses the parquet reader's _metadata columns (no
        # extra scan); the delete side is delete-file-sized (tombstones,
        # not rows).  Paths normalize to scheme-less absolute form on
        # both sides — delete files store the path exactly as the data
        # manifest did, _metadata.file_path yields a file: URI.
        tombstones = (
            spark.read.parquet(*snap.delete_files)
            .select(
                F.regexp_replace(
                    F.col("file_path"), "^file:/*", "/"
                ).alias("__dfp"),
                F.col("pos").cast("long").alias("__pos"),
            )
            .distinct()
        )
        # no broadcast hint: AQE broadcasts when the tombstone side is
        # small (the usual case) but a billion-tombstone table must not
        # be forced through the driver
        tagged = tagged.join(tombstones, ["__dfp", "__pos"], "left_anti")
    if snap.dv_deletes:
        # v3 deletion vectors: decode each referenced file's roaring
        # bitmap into (file, pos) tombstones and apply the SAME
        # anti-join as parquet position deletes (decode placement:
        # dvbitmap.tombstones).
        tagged = tagged.join(
            _dv_tombstones(spark, snap), ["__dfp", "__pos"], "left_anti"
        )
    if snap.eq_deletes:
        if snap.field_id_binding:
            # equality-delete FILES are plain parquet read by NAME; on
            # a renamed table a pre-rename delete file's columns no
            # longer match — applying them silently would miss deletes
            # (resurrect rows).  Refuse loudly until id-resolved
            # delete-file reads exist.
            raise IcebergFeatureError(
                "equality deletes on a RENAMED table cannot be applied "
                "by name (delete files may carry pre-rename column "
                "names) — this reader refuses rather than resurrect "
                "deleted rows"
            )
        # v2 EQUALITY deletes, sequence-scoped: a delete row kills a
        # data row iff all equality columns match (NULL = NULL, the
        # spec's null-safe compare) AND the data file's sequence number
        # is STRICTLY below the delete file's.  Each row learns its
        # file's sequence number through one broadcast join against the
        # file-count-sized manifest map; deletes with the same column
        # set union into ONE anti-join regardless of how many checkpoint
        # epochs produced them.
        # abspath both sides: _metadata.file_path is absolute, while a
        # RELATIVE table_path leaves file_seqs keys relative — a silent
        # join miss here would resurrect deleted rows (review finding)
        seq_rows = [
            (os.path.abspath(p), s) for p, s in snap.file_seqs.items()
        ]
        seq_df = spark.createDataFrame(
            seq_rows, "__dfp string, __dseq long"
        )
        tagged = tagged.join(F.broadcast(seq_df), ["__dfp"], "left")
        by_cols: dict[tuple, list[tuple[str, int]]] = {}
        for p, seq, cols in snap.eq_deletes:
            by_cols.setdefault(tuple(cols), []).append((p, seq))
        for cols, group in by_cols.items():
            dels = None
            for p, seq in group:
                one = (
                    spark.read.parquet(p)
                    .select(
                        *[F.col(c).alias(f"__eq_{c}") for c in cols],
                        F.lit(int(seq)).alias("__eseq"),
                    )
                )
                dels = one if dels is None else dels.unionByName(one)
            cond = F.col("__dseq") < F.col("__eseq")
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            tagged = tagged.join(dels, cond, "left_anti")
    return tagged.select(*out_cols)


#: changelog union chains localCheckpoint every this many snapshots,
#: bounding logical-plan depth on long windows
CDF_CHECKPOINT_EVERY = 32


def read_iceberg_changelog(
    spark: SparkSession,
    table_path: str,
    from_ordinal: int,
    to_ordinal: int | None = None,
) -> DataFrame:
    """EXACT row-level change feed over snapshot-log ordinals
    ``(from_ordinal, to_ordinal]`` — the Iceberg twin of
    ``deltalog.read_delta_cdf`` and the batch complement of the
    ``ballista_iceberg`` streaming source (which refuses non-append
    snapshots; this reads them).  Each changed row appears once with
    ``_change_type`` (``insert`` | ``delete``; updates are their
    delete+insert pair), ``_snapshot_ordinal`` and ``_snapshot_id``.

    Fast path: snapshots without delete files diff ONLY the file-set
    symmetric difference (added rows vs removed rows, multiset
    ``exceptAll`` — carried rows never scan twice), so touch-only
    commits cost the mutation, not the table.  Snapshots carrying v2
    delete files fall back to a full applied-table diff (a new
    tombstone changes visible rows without changing data files — the
    file-set shortcut would miss it).  Expired (cleaned-up) snapshots
    raise rather than under-reporting.
    """
    _, md = _load_metadata(table_path)
    log = md.get("snapshot-log") or []
    hi = len(log) - 1 if to_ordinal is None else int(to_ordinal)
    ordinals = [i for i in range(len(log)) if from_ordinal < i <= hi]
    snaps_by_id = {s["snapshot-id"]: s for s in md.get("snapshots") or []}

    _snap_memo: dict = {}

    def _applied(snapshot_id):
        if snapshot_id not in snaps_by_id:
            raise IcebergFeatureError(
                f"snapshot {snapshot_id} was expired — the changelog can "
                "no longer be reconstructed for this window"
            )
        if snapshot_id not in _snap_memo:  # consecutive ordinals share one
            _snap_memo[snapshot_id] = read_iceberg_snapshot(
                table_path, snapshot_id
            )
        return _snap_memo[snapshot_id]

    final_schema = (
        _applied(log[ordinals[-1]]["snapshot-id"]).spark_schema
        if ordinals
        else iceberg_to_spark_type(_current_schema(md))
    )
    final_types = {f.name: f.dataType for f in final_schema.fields}

    parts = []
    for i in ordinals:
        child_id = log[i]["snapshot-id"]
        child = _applied(child_id)
        parent = _applied(log[i - 1]["snapshot-id"]) if i > 0 else None
        mor = bool(
            child.delete_files or child.eq_deletes or child.dv_deletes
        ) or (
            parent is not None
            and bool(
                parent.delete_files or parent.eq_deletes or parent.dv_deletes
            )
        )
        if mor:
            # tombstones change visibility without changing data files:
            # diff the APPLIED tables (correct, table-sized)
            new_df = read_iceberg_table(spark, table_path, snapshot_id=child_id)
            old_df = (
                read_iceberg_table(
                    spark, table_path, snapshot_id=log[i - 1]["snapshot-id"]
                )
                if parent is not None
                else None
            )
        else:
            child_paths = {f[0] for f in child.files}
            parent_paths = {f[0] for f in parent.files} if parent else set()
            added = sorted(child_paths - parent_paths)
            removed = sorted(parent_paths - child_paths)
            for p in added + removed:
                if not fsio.exists(p):
                    raise IcebergFeatureError(
                        f"data file {p!r} was removed from disk — the "
                        f"changelog for ordinal {i} cannot be reconstructed"
                    )
            new_df = (
                spark.read.schema(child.spark_schema).parquet(*added)
                if added
                else None
            )
            old_df = (
                spark.read.schema(parent.spark_schema).parquet(*removed)
                if removed
                else None
            )
        if new_df is None and old_df is None:
            continue  # no data change (e.g. metadata-only)
        parts.append(
            rewrite.row_changes(new_df, old_df, final_types)
            .withColumn("_snapshot_ordinal", F.lit(i).cast("long"))
            .withColumn("_snapshot_id", F.lit(child_id).cast("long"))
        )
    return rewrite.union_changes(
        spark, parts, final_schema, ["_snapshot_ordinal", "_snapshot_id"],
        CDF_CHECKPOINT_EVERY,
    )


# ---------------------------------------------------------------------------
# WRITE side — spec format-version 1 (see module doc for the v1 stance)


def spark_to_iceberg_schema(spark_schema: T.StructType) -> tuple[dict, int]:
    """(Iceberg schema JSON, last-column-id) with unique field ids
    assigned depth-first — the inverse of :func:`iceberg_to_spark_type`
    over the same supported subset."""
    counter = [0]

    def nid() -> int:
        counter[0] += 1
        return counter[0]

    prim = {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.ShortType: "int",
        T.ByteType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampNTZType: "timestamp",
        T.TimestampType: "timestamptz",
        T.StringType: "string",
        T.BinaryType: "binary",
    }

    def conv(dt: T.DataType):
        if type(dt) in prim:
            return prim[type(dt)]
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = nid()
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            eid = nid()
            return {
                "type": "list",
                "element-id": eid,
                "element-required": not dt.containsNull,
                "element": conv(dt.elementType),
            }
        if isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise IcebergFeatureError("non-string map keys unsupported")
            kid, vid = nid(), nid()
            return {
                "type": "map",
                "key-id": kid,
                "key": "string",
                "value-id": vid,
                "value-required": not dt.valueContainsNull,
                "value": conv(dt.valueType),
            }
        raise IcebergFeatureError(
            f"unsupported Spark type for Iceberg write: {dt.simpleString()}"
        )

    top = conv(spark_schema)
    top["schema-id"] = 0
    return top, counter[0]


def encode_bound(value, iceberg_type: str) -> bytes | None:
    """Spec Appendix D single-value serialization — the exact inverse of
    :func:`decode_bound`; returns None for values/types without a
    trustworthy fixed encoding (those columns simply don't prune)."""
    if value is None:
        return None
    try:
        if iceberg_type in ("int", "date"):
            return struct.pack("<i", int(value))
        if iceberg_type in ("long", "timestamp", "timestamptz", "time"):
            return struct.pack("<q", int(value))
        if iceberg_type == "float":
            return struct.pack("<f", float(value))
        if iceberg_type == "double":
            return struct.pack("<d", float(value))
        if iceberg_type == "string":
            raw = str(value).encode("utf-8")
            # bounds must bound: a truncated UPPER needs last-byte
            # increment logic to stay an upper bound, so long strings
            # are omitted instead (prune-on-proof keeps correctness)
            return raw if len(raw) <= 32 else None
        if iceberg_type == "boolean":
            return b"\x01" if value else b"\x00"
    except (struct.error, ValueError, OverflowError):
        return None
    return None


def _to_iceberg_scalar(v, iceberg_type: str):
    """Parquet-footer statistics value → the spec's integer domain
    (dates = days since epoch, timestamps = micros since epoch)."""
    import datetime

    if iceberg_type == "date" and isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if iceberg_type in ("timestamp", "timestamptz") and isinstance(
        v, datetime.datetime
    ):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        td = v - datetime.datetime(1970, 1, 1)
        return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return v


def _footer_bounds(path: str, ids: dict[int, tuple[str, str]]):
    """(record_count, lower, upper, null_counts) from ONE parquet footer
    — same footer-only discipline as deltalog._file_stats_json, but
    keyed by Iceberg field id with Appendix-D encoded values.
    Worker-safe (fsio-routed): ``_per_file`` runs it on
    executors for large commits."""
    import pyarrow.parquet as pq

    with fsio.open_input(path) as src:
        md = pq.ParquetFile(src).metadata
    by_name = {name: (fid, ftype) for fid, (name, ftype) in ids.items()}
    mins: dict[int, bytes] = {}
    maxs: dict[int, bytes] = {}
    nulls: dict[int, int] = {}
    raw_min: dict[str, object] = {}
    raw_max: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name not in by_name:
                continue
            st = c.statistics
            if st is None:
                continue
            fid, _ftype = by_name[name]
            if st.null_count is not None:
                nulls[fid] = nulls.get(fid, 0) + int(st.null_count)
            if st.has_min_max:
                mn = _to_iceberg_scalar(st.min, _ftype)
                mx = _to_iceberg_scalar(st.max, _ftype)
                if mn is None or mx is None:
                    continue
                raw_min[name] = (
                    mn if name not in raw_min else min(raw_min[name], mn)
                )
                raw_max[name] = (
                    mx if name not in raw_max else max(raw_max[name], mx)
                )
    for name, (fid, ftype) in by_name.items():
        lo = encode_bound(raw_min.get(name), ftype)
        hi = encode_bound(raw_max.get(name), ftype)
        if lo is not None and hi is not None:
            mins[fid] = lo
            maxs[fid] = hi
    return md.num_rows, mins, maxs, nulls


#: Avro schemas for the v1 manifest + manifest list, spec field names
#: and the array<record{key,value}> bounds form (struct field-id avro
#: attributes omitted: they are v2 reader aids, and every field here is
#: resolved by name)
_KV_SCHEMA = {
    "type": "record",
    "name": "k126_v127",
    "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"},
    ],
}
_CNT_SCHEMA = {
    "type": "record",
    "name": "k118_v119",
    "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "long"},
    ],
}
_DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {
            "name": "partition",
            "type": {"type": "record", "name": "r102", "fields": []},
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {"name": "block_size_in_bytes", "type": "long"},
        {
            "name": "null_value_counts",
            "type": ["null", {"type": "array", "items": _CNT_SCHEMA}],
        },
        {
            "name": "lower_bounds",
            "type": ["null", {"type": "array", "items": _KV_SCHEMA}],
        },
        {
            "name": "upper_bounds",
            "type": [
                "null",
                {"type": "array", "items": {**_KV_SCHEMA, "name": "k128_v129"}},
            ],
        },
    ],
}
_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": _DATA_FILE_SCHEMA},
    ],
}
_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        {"name": "added_data_files_count", "type": ["null", "int"]},
        {"name": "existing_data_files_count", "type": ["null", "int"]},
        {"name": "deleted_data_files_count", "type": ["null", "int"]},
        {"name": "added_rows_count", "type": ["null", "long"]},
        # v2 fields (null on v1-only lists; the reader treats null as
        # content=data / sequence 0): a DELETE manifest announces
        # itself here, and its sequence number scopes its tombstones
        {"name": "content", "type": ["null", "int"]},
        {"name": "sequence_number", "type": ["null", "long"]},
    ],
}

#: v2 POSITION-DELETE manifest shapes: ``data_file.content`` is the
#: spec's discriminator (1 = position deletes); entry sequence_number
#: stays null and inherits the manifest's (spec "sequence number
#: inheritance").  Bounds carry the reserved file_path field id so an
#: id-aware reader could skip delete files per data file.
_DELETE_FILE_RECORD_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        {"name": "content", "type": "int"},
        *_DATA_FILE_SCHEMA["fields"],
    ],
}
_DELETE_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": _DELETE_FILE_RECORD_SCHEMA},
    ],
}

#: Iceberg spec reserved field ids for position-delete file columns
_POS_DELETE_IDS = {
    2147483546: ("file_path", "string"),
    2147483545: ("pos", "long"),
}



def _stamp_field_ids(df: DataFrame, ids: dict) -> DataFrame:
    """Attach ``parquet.field.id`` metadata to every top-level column
    before the staging write — Spark's parquet writer then emits the
    ids into the files natively (``spark.sql.parquet.fieldId.write.
    enabled``, default true), which the Iceberg spec requires and which
    makes RENAME COLUMN a safe metadata-only commit (round-10 ask #2:
    id-resolved reads re-bind old files to new names)."""
    id_by_name = {name: fid for fid, (name, _t) in ids.items()}
    if not id_by_name:
        return df
    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": id_by_name[c]})
            if c in id_by_name
            else F.col(c)
            for c in df.columns
        ]
    )


def _spark_schema_with_field_ids(
    spark_schema: T.StructType, schema_json: dict
) -> T.StructType:
    """The read schema with ``parquet.field.id`` metadata per top-level
    field — what makes Spark's parquet reader resolve columns by id
    instead of name (renamed tables)."""
    id_by_name = {
        f["name"]: int(f["id"]) for f in schema_json.get("fields", [])
    }
    fields = []
    for f in spark_schema.fields:
        md = dict(f.metadata or {})
        if f.name in id_by_name:
            md["parquet.field.id"] = id_by_name[f.name]
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return T.StructType(fields)


def _named_fields(schema_json: dict):
    """Yield ``(field_id, name, is_top_level)`` for every NAMED field
    in the schema tree — struct members at any depth (list/map
    element/key/value ids carry no names and are skipped)."""

    def walk_type(t):
        if not isinstance(t, dict):
            return
        k = t.get("type")
        if k == "struct":
            for f in t.get("fields") or []:
                yield int(f["id"]), f.get("name"), False
                yield from walk_type(f.get("type"))
        elif k == "list":
            yield from walk_type(t.get("element"))
        elif k == "map":
            yield from walk_type(t.get("key"))
            yield from walk_type(t.get("value"))

    for f in schema_json.get("fields") or []:
        yield int(f["id"]), f.get("name"), True
        yield from walk_type(f.get("type"))


def _rename_in_history(md: dict, current: dict) -> bool:
    """True when any retained schema maps a field id to a DIFFERENT
    name than the current schema — a rename happened and data files may
    carry old names, so the scan must bind by field id.  A rename of a
    NESTED field (only foreign writers produce these — this engine
    renames top-level columns) refuses loudly: the id-annotated read
    schema covers top-level fields only, so nested resolution would
    silently fall back to by-name and read NULLs where the renamed
    member's data lives (review finding)."""
    cur = {fid: (name, top) for fid, name, top in _named_fields(current)}
    cur_sid = current.get("schema-id", 0)
    renamed = False
    for s in md.get("schemas") or []:
        if s.get("schema-id", 0) == cur_sid:
            continue
        for fid, old_name, _top in _named_fields(s):
            hit = cur.get(fid)
            if hit is None or hit[0] == old_name:
                continue
            if not hit[1]:
                raise IcebergFeatureError(
                    f"schema history renames NESTED field id {fid} "
                    f"({old_name!r} -> {hit[0]!r}); this reader binds "
                    "nested parquet columns by name and would return "
                    "NULL for the renamed member's pre-rename data — "
                    "refusing rather than reading wrong-shaped"
                )
            renamed = True
    return renamed


def _schema_compatible(existing: T.StructType, new: T.StructType) -> bool:
    """Same names + types in order; nullability relaxed (the Delta
    source's append discipline)."""
    if len(existing.fields) != len(new.fields):
        return False
    for a, b in zip(existing.fields, new.fields):
        if a.name != b.name or a.dataType != b.dataType:
            return False
    return True


# ---------------------------------------------------------------------------
# shared commit machinery — ONE implementation of staging, manifest
# writing and the snapshot commit (:func:`_commit_snapshot`) at the
# metadata version each writer read (:func:`_load_metadata`)


#: staged-file counts from which NON-LOCAL footer reads go
#: executor-side (``rewrite.per_file``)
EXECUTOR_STATS_MIN_FILES = 64
#: test hook: force the executor path on local paths too
EXECUTOR_STATS_FORCE = False


def _per_file(spark: SparkSession | None, paths: list[str], fn) -> dict:
    return rewrite.per_file(
        spark, paths, fn, EXECUTOR_STATS_MIN_FILES, EXECUTOR_STATS_FORCE
    )


def _entry_for_file(
    dest: str,
    snapshot_id: int,
    size: int,
    bounds: tuple,
    content: int = 0,
) -> dict | None:
    """Manifest entry (status ADDED) for one staged parquet file with
    its Appendix-D footer bounds; None for an empty task output.
    ``content=1`` marks a position-delete file (written through the
    v2-shaped ``_DELETE_MANIFEST_ENTRY_SCHEMA``, whose data_file record
    carries the discriminator; the v1 data schema ignores the key)."""
    n_records, lowers, uppers, nulls = bounds
    if n_records == 0:
        return None
    return {
        "status": 1,  # ADDED
        "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherit the manifest's (v2 entries)
        "data_file": {
            "content": content,
            "file_path": dest,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": n_records,
            "file_size_in_bytes": size,
            "block_size_in_bytes": 67108864,
            "null_value_counts": [
                {"key": k, "value": v} for k, v in sorted(nulls.items())
            ],
            "lower_bounds": [
                {"key": k, "value": v} for k, v in sorted(lowers.items())
            ],
            "upper_bounds": [
                {"key": k, "value": v} for k, v in sorted(uppers.items())
            ],
        },
    }


def _stage_entries(
    df: DataFrame,
    table_path: str,
    ids: dict,
    snapshot_id: int,
    content: int = 0,
) -> list[dict]:
    """Distributed parquet staging → ``data/`` + manifest entries.

    The spec REQUIRES int64-micros parquet timestamps (and Spark's
    INT96 default also writes no statistics, killing bound pruning) —
    TIMESTAMP_MICROS is forced for the staging write, then restored.
    IO is fsio-routed; footer bounds for large commits are collected
    executor-side (``_per_file``), not in a driver loop.
    """
    import uuid as _uuid

    spark = df.sparkSession
    data_dir = f"{table_path.rstrip('/')}/data"
    fsio.mkdirs(data_dir)
    staging = f"{table_path.rstrip('/')}/.staging-{_uuid.uuid4().hex}"
    ts_key = "spark.sql.parquet.outputTimestampType"
    prev_ts = spark.conf.get(ts_key, None)
    spark.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        _stamp_field_ids(df, ids).write.mode("overwrite").parquet(staging)
    finally:
        if prev_ts is None:
            spark.conf.unset(ts_key)
        else:
            spark.conf.set(ts_key, prev_ts)
    staged = sorted(
        (rel, size)
        for rel, size in fsio.walk_files(staging)
        if rel.endswith(".parquet")
    )
    bounds = _per_file(
        spark,
        [f"{staging}/{rel}" for rel, _ in staged],
        lambda p: _footer_bounds(p, ids),
    )
    entries = []
    for rel, size in staged:
        b = bounds[f"{staging}/{rel}"]
        if b[0] == 0:
            continue  # empty task output — swept with staging
        dest = f"{data_dir}/{_uuid.uuid4().hex}-{rel.rsplit('/', 1)[-1]}"
        fsio.move(f"{staging}/{rel}", dest)
        e = _entry_for_file(dest, snapshot_id, size, b, content=content)
        if e is not None:
            entries.append(e)
    fsio.remove_dir(staging)
    return entries


def _write_manifest(
    meta_dir: str, schema_json: dict, entries: list[dict], content: int = 0
) -> tuple[str, int]:
    """One manifest Avro file → (path, byte length); ``content=1``
    writes a v2 position-DELETE manifest."""
    import uuid as _uuid

    from ballista_spark.sources.avroio import write_avro_bytes

    deletes = content == 1
    manifest_path = os.path.join(
        meta_dir, f"{_uuid.uuid4().hex}-{'d0' if deletes else 'm0'}.avro"
    )
    manifest_bytes = write_avro_bytes(
        entries,
        _DELETE_MANIFEST_ENTRY_SCHEMA if deletes else _MANIFEST_ENTRY_SCHEMA,
        extra_meta={
            "schema": json.dumps(schema_json, separators=(",", ":")),
            "partition-spec": "[]",
            "partition-spec-id": "0",
            "format-version": "2" if deletes else "1",
            "content": "deletes" if deletes else "data",
        },
    )
    fsio.write_bytes(manifest_path, manifest_bytes)
    return manifest_path, len(manifest_bytes)


def _write_manifest_list(
    meta_dir: str, snapshot_id: int, manifest_records: list[dict]
) -> str:
    import uuid as _uuid

    from ballista_spark.sources.avroio import write_avro_bytes

    list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-1-{_uuid.uuid4().hex}.avro"
    )
    fsio.write_bytes(
        list_path,
        write_avro_bytes(
            manifest_records,
            _MANIFEST_FILE_SCHEMA,
            extra_meta={
                "format-version": "1",
                "snapshot-id": str(snapshot_id),
            },
        ),
    )
    return list_path


def _commit_metadata(meta_dir: str, new_md: dict, base_version: int) -> None:
    """Exclusive-create commit of ``v<base_version + 1>.metadata.json``
    (one winner per version: a racer gets FileExistsError), then the
    hint pointer moves atomically."""
    import uuid as _uuid

    md_path = os.path.join(meta_dir, f"v{base_version + 1}.metadata.json")
    fsio.create_exclusive(md_path, json.dumps(new_md).encode("utf-8"))
    hint = os.path.join(meta_dir, "version-hint.text")
    if fsio.is_local(meta_dir):
        # atomic pointer move on local filesystems
        hint_tmp = os.path.join(meta_dir, f".hint-{_uuid.uuid4().hex}")
        fsio.write_text(hint_tmp, str(base_version + 1))
        os.replace(hint_tmp, hint)
    else:
        fsio.write_text(hint, str(base_version + 1))


def _live_entries(table_path: str, snap_md: dict) -> list[dict]:
    """All non-deleted manifest entries of a snapshot, records verbatim
    (data files AND delete files — callers split on content)."""
    return [
        e
        for m in _manifest_records(table_path, snap_md)
        for e in _read_manifest(_norm_path(table_path, m["manifest_path"]))
        if e.get("status", 1) != 2
    ]


class _Meta:
    """One metadata ``version`` as a writer read it: ``md`` and, read on
    first use, the current snapshot's ``live`` manifest entries."""

    def __init__(self, table_path: str, version: int, md: dict):
        self.table_path, self.version, self.md = table_path, version, md

    @functools.cached_property
    def live(self) -> list[dict]:
        cur = self.md.get("current-snapshot-id")
        for s in self.md.get("snapshots") or []:
            if s["snapshot-id"] == cur:
                return _live_entries(self.table_path, s)
        return []

    @property
    def data(self) -> list[dict]:
        return [e for e in self.live if not e["data_file"].get("content")]


def _commit(read: _Meta, build, conflicts=None, txn=(None, None)) -> int | None:
    """:func:`occ.commit` over metadata versions: ``build(state)``
    returns (new metadata, the manifest files it wrote), published as
    ``v<state.version + 1>``; a lost attempt's files are deleted, as no
    version references them.  Returns the version, or None."""
    table_path = read.table_path

    def publish(state: _Meta, attempt) -> int:
        new_md, written = attempt
        try:
            _commit_metadata(
                os.path.join(table_path, "metadata"), new_md, state.version
            )
        except FileExistsError:
            for p in written:
                fsio.remove(p)
            raise
        return state.version + 1

    return occ.commit(
        "iceberg", table_path, read, build, publish,
        lambda: _Meta(table_path, *_load_metadata(table_path, hint=False)),
        conflicts or (lambda *_: None),
        lambda state: _txn_replayed(state.md, *txn) is not None,
    )


def _append_snapshot_md(md: dict, snapshot: dict, extras: dict) -> dict:
    now_ms = snapshot["timestamp-ms"]
    base = {**md, **extras}
    base["last-updated-ms"] = now_ms
    base["current-snapshot-id"] = snapshot["snapshot-id"]
    base["snapshots"] = (md.get("snapshots") or []) + [snapshot]
    base["snapshot-log"] = (md.get("snapshot-log") or []) + [
        {"snapshot-id": snapshot["snapshot-id"], "timestamp-ms": now_ms}
    ]
    return base


def _file_paths(entries) -> set[str]:
    return {e["data_file"]["file_path"] for e in entries}


def _commit_snapshot(
    read: _Meta,
    snapshot_id: int,
    added: list[dict],
    summary: dict,
    kept=None,
    content: int = 0,
    txn: tuple = (None, None),
) -> int | None:
    """The one snapshot commit of every data-changing writer: a new
    manifest of ``added`` entries, its manifest list and the snapshot,
    published by :func:`_commit` on the version the writer ``read``.
    Returns ``snapshot_id``, or None when a racer applied ``txn``.
    ``kept=None`` carries the landing snapshot's manifests forward
    (append, position delete); else the new manifest re-records
    ``kept(state)``, the landing snapshot's live data entries it keeps,
    as EXISTING; the live entries it drops are counted in the manifest
    list and the summary's ``deleted-data-files``.  ``content=1``
    writes a position-DELETE manifest, upgrading the table to v2, where
    every snapshot takes the next sequence number.  A lost race rebuilds
    on the winner unless the winner changed the schema or, for all but
    an append, changed the format version, added delete files, or
    removed a data file the commit drops (a position delete: any it
    read)."""
    import time

    meta_dir = os.path.join(read.table_path, "metadata")

    def build(state: _Meta):
        md = state.md
        fmt = int(md.get("format-version", 1))
        if content == 1:
            fmt = max(fmt, 2)  # delete files need v2: the first one upgrades
        seq = int(md.get("last-sequence-number", 0)) + 1 if fmt >= 2 else None
        parent_id = md.get("current-snapshot-id")
        if parent_id == -1:
            parent_id = None
        manifests: list[dict] = []
        if kept is None and parent_id is not None:
            parent = next(
                s for s in md["snapshots"] if s["snapshot-id"] == parent_id
            )
            prev = _manifest_records(read.table_path, parent)
            names = [f["name"] for f in _MANIFEST_FILE_SCHEMA["fields"]]
            manifests = [{k: m.get(k) for k in names} for m in prev]
        existing = [  # status EXISTING, records otherwise verbatim
            {"status": 0, "snapshot_id": e.get("snapshot_id"),
             "data_file": e["data_file"]}
            for e in (kept(state) if kept else [])
        ]
        removed = len(state.live) - len(existing) if kept else 0
        manifest_path, manifest_len = _write_manifest(
            meta_dir, _current_schema(md), existing + added, content
        )
        manifests.append({
            "manifest_path": manifest_path,
            "manifest_length": manifest_len,
            "partition_spec_id": 0,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(added),
            "existing_data_files_count": len(existing),
            "deleted_data_files_count": removed,
            "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
            "content": content,
            "sequence_number": seq,
        })
        list_path = _write_manifest_list(meta_dir, snapshot_id, manifests)
        snapshot = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": int(time.time() * 1000),
            "manifest-list": list_path,
            "summary": (
                {**summary, "deleted-data-files": str(removed)} if kept else summary
            ),
        }
        if parent_id is not None:
            snapshot["parent-snapshot-id"] = parent_id
        extras = {}
        if seq is not None:
            snapshot["sequence-number"] = seq
            extras = {"format-version": fmt, "last-sequence-number": seq}
            if not md.get("schemas"):  # v1 single-schema face → v2 list
                schema = {"schema-id": 0, **_current_schema(md)}
                extras["schemas"] = [schema]
                extras["current-schema-id"] = schema["schema-id"]
        new_md = _append_snapshot_md(md, snapshot, extras)
        return new_md, (manifest_path, list_path)

    def conflicts(read: _Meta, winner: _Meta, attempt) -> str | None:
        if _current_schema(winner.md)["fields"] != _current_schema(read.md)["fields"]:
            return "changed the schema"
        if kept is None and content == 0:
            return None  # a blind append reads no file
        inputs = _file_paths(read.data) - _file_paths(kept(read) if kept else [])
        if not inputs:
            return None
        deletes = [_file_paths(m.live) - _file_paths(m.data) for m in (read, winner)]
        fmts = [m.md.get("format-version", 1) for m in (read, winner)]
        if fmts[0] != fmts[1] or deletes[1] - deletes[0]:
            return "changed the format version or added delete files"
        gone = sorted(inputs - _file_paths(winner.data))
        return f"removed {gone[:3]}" if gone else None

    app_id, txn_version = txn
    if app_id is not None:
        summary = {
            **summary, "txn-app-id": app_id, "txn-version": str(int(txn_version))
        }
    committed = _commit(read, build, conflicts, txn)
    return None if committed is None else snapshot_id


def _txn_replayed(md: dict, app_id: str | None, version) -> int | None:
    """Idempotent-commit check (the Delta ``txn`` contract): the id of
    ``app_id``'s latest recorded snapshot when ``version`` is at or
    below its txn-version — a redelivered epoch, skipped before any
    file is staged — else None."""
    if app_id is None:
        return None
    last = None
    for s in md.get("snapshots") or []:
        summ = s.get("summary") or {}
        if summ.get("txn-app-id") == app_id:
            v = int(summ.get("txn-version", -1))
            if last is None or v > last[0]:
                last = (v, s["snapshot-id"])
    return last[1] if last is not None and int(version) <= last[0] else None


def write_iceberg_table(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int | None:
    """Commit ``df`` to an Iceberg v1 table at ``table_path`` (created
    on first write); returns the new snapshot id.

    One commit = Spark writes the parquet data files under ``data/``
    (distributed; the driver only moves files and reads footers), ONE
    new Avro manifest listing them with Appendix-D column bounds, a
    manifest list (previous manifests carried forward on append,
    dropped on overwrite — their files stay readable through snapshot
    time travel), and ``v<N+1>.metadata.json`` committed by exclusive
    create at the version N this write READ.  A writer that loses that
    race rebuilds on the winner and retries (:func:`_commit_snapshot`):
    two racing appends both commit, and an overwrite drops the winner's
    files too unless the winner removed one it read, which raises
    ``occ.ConcurrentCommitError``.

    Scale: metadata work is O(files in this commit) + one manifest-list
    rewrite; data-file writing is the engine's normal distributed
    parquet path.  Nothing is collected.

    ``txn_app_id``/``txn_version`` give the same idempotent-commit
    contract as the Delta source's ``txn`` action: the snapshot summary
    records both, and a write whose version is <= the app's last
    recorded version is SKIPPED before any file is staged — the
    exactly-once streaming-sink hook
    (`streaming.write_stream_iceberg_exactly_once`).  Returns the
    already-committed snapshot id on a skip, or None when a racer
    committed the same version while this write staged.
    """
    import uuid as _uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    # normalize to the Iceberg type domain up front (short/byte → int)
    # so the schema recorded in metadata round-trips exactly and later
    # appends of the same DataFrame shape stay compatible
    _ice, _ = spark_to_iceberg_schema(df.schema)
    norm = iceberg_to_spark_type(_ice)
    if [f.dataType for f in norm.fields] != [f.dataType for f in df.schema.fields]:
        df = df.select(
            *[
                F.col(f.name).cast(norm.fields[i].dataType)
                for i, f in enumerate(df.schema.fields)
            ]
        )
    fsio.mkdirs(os.path.join(table_path, "metadata"))
    try:
        version, md = _load_metadata(table_path)
    except FileNotFoundError:  # a new table commits v1 over this md
        schema_json, last_column_id = spark_to_iceberg_schema(df.schema)
        version, md = 0, {
            "format-version": 1,
            "table-uuid": str(_uuid.uuid4()),
            "location": table_path,
            "last-column-id": last_column_id,
            "schema": schema_json,
            "partition-spec": [],
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "properties": {},
        }
    else:
        _refuse_v3_write(md, "WRITE")
        schema_json = _current_schema(md)
        existing_spark = iceberg_to_spark_type(schema_json)
        if not _schema_compatible(existing_spark, df.schema):
            raise ValueError(
                "schema mismatch on Iceberg append: table has "
                f"{existing_spark.simpleString()}, DataFrame has "
                f"{df.schema.simpleString()}"
            )

    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be passed together")
    # idempotent replay check BEFORE staging: a redelivered epoch is
    # skipped without writing a byte
    replayed = _txn_replayed(md, txn_app_id, txn_version)
    if replayed is not None:
        return replayed

    snapshot_id = _uuid.uuid4().int >> 75  # unique positive 53-bit long
    entries = _stage_entries(df, table_path, _field_ids(schema_json), snapshot_id)
    return _commit_snapshot(
        _Meta(table_path, version, md),
        snapshot_id,
        entries,
        {
            "operation": mode,
            "added-data-files": str(len(entries)),
            "added-records": str(
                sum(e["data_file"]["record_count"] for e in entries)
            ),
        },
        kept=None if mode == "append" else (lambda state: []),
        txn=(txn_app_id, txn_version),
    )


def _shift_ids(node, offset: int):
    """Bump every field-id key in an Iceberg schema fragment by
    ``offset`` — used to graft freshly-converted fields into an existing
    schema without colliding with its ids."""
    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            if k in ("id", "element-id", "key-id", "value-id"):
                out[k] = v + offset
            else:
                out[k] = _shift_ids(v, offset)
        return out
    if isinstance(node, list):
        return [_shift_ids(v, offset) for v in node]
    return node


def alter_iceberg_table(
    table_path: str,
    add_columns=None,
    drop_columns: list[str] | None = None,
) -> int:
    """Schema evolution as a METADATA-ONLY commit (zero data I/O) — the
    Iceberg twin of ``deltalog.alter_delta_table``.  ``add_columns``
    maps new column name → Spark type string; new fields get FRESH field
    ids above ``last-column-id`` (the spec rule that makes adds safe:
    an id is never reused, so old files simply lack the column and read
    NULL).  ``drop_columns`` removes fields from the schema; their data
    stays in the files, unprojected, and their ids are retired forever.
    The previous schema is retained in the ``schemas`` list (spec v2
    bookkeeping).  Renames live in :func:`rename_iceberg_column`
    (round 10 — staged parquet now carries field ids, and reads of
    renamed tables resolve by id).  Returns the new metadata
    version."""
    add_columns = dict(add_columns or {})
    drop_columns = list(drop_columns or [])
    if not add_columns and not drop_columns:
        raise ValueError("ALTER needs add_columns and/or drop_columns")
    read = _Meta(table_path, *_load_metadata(table_path))
    _refuse_v3_write(read.md, "ALTER")

    def build(state: _Meta):
        md = state.md
        schema_json = _current_schema(md)
        names = {f["name"] for f in schema_json["fields"]}
        props = dict(md.get("properties") or {})
        retired = set(json.loads(props.get("ballista.dropped-columns", "[]")))
        for c in add_columns:
            if c in names:
                raise ValueError(f"column {c!r} already exists")
            if c in retired:
                # this reader projects parquet by NAME (our staged files
                # carry no field-id metadata), so a re-added name would
                # resurrect pre-drop physical data; the name stays retired
                # the way the spec retires field ids
                raise ValueError(
                    f"column {c!r} was previously dropped and its name is "
                    "retired; use a new name"
                )
        for c in drop_columns:
            if c not in names:
                raise ValueError(f"column {c!r} does not exist")
            if c in add_columns:
                raise ValueError(f"column {c!r} both added and dropped")
        keep = [
            dict(f) for f in schema_json["fields"] if f["name"] not in set(drop_columns)
        ]
        if not keep and not add_columns:
            raise ValueError("cannot drop every column")
        last_id = int(md.get("last-column-id", 0))
        for c, t in add_columns.items():
            spark_t = T._parse_datatype_string(t)  # noqa: SLF001
            frag, used = spark_to_iceberg_schema(T.StructType([
                T.StructField(c, spark_t, True)
            ]))
            keep.append(_shift_ids(frag["fields"][0], last_id))
            last_id += used
        old_sid = int(schema_json.get("schema-id", 0))
        new_schema = {"type": "struct", "schema-id": old_sid + 1, "fields": keep}
        prior = [dict(s) for s in md.get("schemas") or [schema_json]]
        new_md = dict(md)
        new_md["last-column-id"] = last_id
        new_md["schema"] = new_schema  # v1 single-schema face
        new_md["schemas"] = prior + [new_schema]
        new_md["current-schema-id"] = new_schema["schema-id"]
        if drop_columns:
            props["ballista.dropped-columns"] = json.dumps(
                sorted(retired | set(drop_columns))
            )
            new_md["properties"] = props
        return new_md, ()

    return _commit(read, build)


def _file_has_field_ids(path: str) -> bool:
    """True when every top-level parquet column in ``path`` carries a
    field id (pyarrow surfaces them as ``PARQUET:field_id`` field
    metadata) — the precondition for id-resolved reads."""
    import pyarrow.parquet as pq

    with fsio.open_input(path) as f:
        sch = pq.ParquetFile(f).schema_arrow
    return all(
        (fld.metadata or {}).get(b"PARQUET:field_id") is not None
        for fld in sch
    )


def _absent_default_fields(path: str, targets: tuple) -> frozenset:
    """The defaulted field names ABSENT from this file's footer
    (matched by stamped field id when present, else by name) — rows in
    such a file predate the field and read its initial-default.
    Worker-safe (fsio-routed)."""
    import pyarrow.parquet as pq

    with fsio.open_input(path) as f:
        sch = pq.ParquetFile(f).schema_arrow
    present_ids: set[int] = set()
    present_names: set[str] = set()
    for fld in sch:
        present_names.add(fld.name)
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            present_ids.add(int(fid))
    return frozenset(
        name
        for name, fid in targets
        if fid not in present_ids and name not in present_names
    )


def _scan_with_initial_defaults(
    spark: SparkSession,
    read_schema: T.StructType,
    paths: list[str],
    snap: IcebergSnapshot,
    tag: bool,
) -> DataFrame:
    """Scan a v3 table whose schema declares ``initial-default``
    fields: files written BEFORE a field existed (footer lacks it)
    read the default CONSTANT for that field; files carrying the field
    read actual values — genuine NULLs stay NULL (the reason a blanket
    ``coalesce`` would be wrong).  Files group by their absent-field
    set (one Spark scan per distinct group — in practice two: before
    and after the ADD COLUMN), and ``tag=True`` attaches the
    (__dfp, __pos) tombstone-join columns scan-side, where
    ``_metadata`` is still resolvable (it is not after a union)."""
    id_by_name = {
        f["name"]: int(f["id"])
        for f in snap.schema_json.get("fields", [])
    }
    targets = tuple(
        (name, id_by_name.get(name, -1)) for name in snap.initial_defaults
    )
    absent = _per_file(
        spark, paths, lambda p: _absent_default_fields(p, targets)
    )
    groups: dict[frozenset, list] = {}
    for p in paths:
        groups.setdefault(absent.get(p, frozenset()), []).append(p)
    out_cols = [f.name for f in read_schema.fields]
    if tag:
        out_cols = out_cols + ["__dfp", "__pos"]
    parts = []
    for absent_set in sorted(groups, key=lambda s: sorted(s)):
        gpaths = groups[absent_set]
        sub = T.StructType(
            [f for f in read_schema.fields if f.name not in absent_set]
        )
        g = spark.read.schema(sub).parquet(*gpaths)
        if tag:
            g = g.withColumns(
                {
                    "__dfp": decoded_file_path(),
                    "__pos": F.col("_metadata.row_index"),
                }
            )
        for name in absent_set:
            jv, ftype = snap.initial_defaults[name]
            g = g.withColumn(
                name, F.lit(jv).cast(iceberg_to_spark_type(ftype))
            )
        parts.append(g.select(*out_cols))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def _require_field_ids(table_path: str, md: dict, spark) -> None:
    """RENAME COLUMN's precondition: every data file of every retained
    snapshot carries parquet field ids, and no snapshot has
    equality-delete files."""
    # vet EVERY retained snapshot's entries, not just the current
    # snapshot's: time travel and eq-delete application must survive
    # the switch to id-bound reads.  Walks the PROJECTED scan rows
    # (content + path slots), never the full dict-form entries — at
    # 1M-entry manifests the full decode is the exact cost the read
    # path's projection exists to avoid (review finding)
    all_paths: set[str] = set()
    seen_manifests: set[str] = set()
    for snap_md in md.get("snapshots") or []:
        if "manifest-list" in snap_md:
            manifest_paths = [
                m["manifest_path"] for m in _manifest_records(table_path, snap_md)
            ]
        else:
            manifest_paths = list(snap_md.get("manifests") or [])
        for mp in manifest_paths:
            mp = _norm_path(table_path, mp)
            if mp in seen_manifests:  # appends share manifests
                continue
            seen_manifests.add(mp)
            for row in _manifest_scan_rows(mp):
                if row[_SR_STATUS] == 2:
                    continue
                content = row[_SR_CONTENT] or 0
                if content == 2:
                    raise IcebergFeatureError(
                        "RENAME COLUMN on a table with equality-delete "
                        "files (in any retained snapshot) is not "
                        "supported — eq-delete files apply by NAME, so "
                        "every read of the renamed table would refuse, "
                        "including the compaction that could repair "
                        "it.  Compact first (it applies the deletes), "
                        "then rename"
                    )
                if content == 0:
                    all_paths.add(_norm_path(table_path, row[_SR_PATH]))
    has_ids = _per_file(spark, sorted(all_paths), _file_has_field_ids)
    missing = [p for p, ok in has_ids.items() if not ok]
    if missing:
        raise IcebergFeatureError(
            "RENAME COLUMN requires every data file referenced by any "
            "retained snapshot to carry parquet field ids (the spec's "
            f"id-resolution contract), but {len(missing)} file(s) lack "
            f"them (e.g. {missing[0]!r}) — they predate field-id "
            "stamping.  compact_iceberg_table() rewrites live files "
            "with ids and expire_iceberg_snapshots() retires old "
            "snapshots still referencing id-less ones; rename after "
            "that"
        )


def rename_iceberg_column(
    table_path: str,
    old: str,
    new: str,
    spark: SparkSession | None = None,
) -> int:
    """``ALTER TABLE … RENAME COLUMN old TO new`` as a METADATA-ONLY
    commit — the Iceberg spec's actual contract (field ids are the
    identity; names are labels).  Round-10 ask #2: this engine now
    stamps ``parquet.field.id`` into every staged file (Spark's parquet
    writer emits them natively), reads of renamed tables resolve
    columns BY ID (``field_id_binding``), and rename first PROVES the
    re-binding is safe by checking that every data file referenced by
    ANY retained snapshot carries field ids — not just the current one
    (review finding: after a compact-then-rename of a legacy table,
    time travel to a pre-compaction snapshot would otherwise hit
    id-less files under the id-bound read and fail where it worked
    before).  ``expire_iceberg_snapshots`` retires old snapshots;
    ``compact_iceberg_table`` rewrites id-less live files with ids.
    Tables carrying equality-delete files refuse: post-rename reads of
    ANY retained snapshot with eq-deletes raise (name-bound delete
    files), which would wedge the table behind an unreadable
    compaction path.  Time travel to pre-rename snapshots reads the
    old files correctly under the CURRENT names (Iceberg reads apply
    the current schema).  Returns the new metadata version."""
    if old == new:
        raise ValueError("rename to the same name is a no-op")
    read = _Meta(table_path, *_load_metadata(table_path))
    _refuse_v3_write(read.md, "RENAME COLUMN")

    def build(state: _Meta):
        md = state.md
        schema_json = _current_schema(md)
        names = [f["name"] for f in schema_json["fields"]]
        if old not in names:
            raise ValueError(f"column {old!r} does not exist")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        _require_field_ids(table_path, md, spark)
        fields = [dict(f) for f in schema_json["fields"]]
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        prior = [dict(s) for s in md.get("schemas") or [schema_json]]
        new_sid = max(
            [int(s.get("schema-id", 0)) for s in prior]
            + [int(schema_json.get("schema-id", 0))]
        ) + 1
        new_schema = {"type": "struct", "schema-id": new_sid, "fields": fields}
        new_md = dict(md)
        new_md["schema"] = new_schema  # v1 single-schema face
        new_md["schemas"] = prior + [new_schema]
        new_md["current-schema-id"] = new_sid
        return new_md, ()

    return _commit(read, build)


def set_iceberg_table_properties(
    table_path: str,
    set_props=None,
    unset: list[str] | None = None,
) -> int:
    """``ALTER TABLE … SET/UNSET TBLPROPERTIES`` — a new metadata
    version with the ``properties`` map merged (the Iceberg twin of
    ``deltalog.set_delta_table_properties``; Iceberg properties carry
    no protocol requirements).  The ``ballista.dropped-columns``
    registry refuses direct edits (it is ALTER's bookkeeping).
    Returns the new metadata version."""
    set_props = {k: str(v) for k, v in (set_props or {}).items()}
    unset = list(unset or [])
    if not set_props and not unset:
        raise ValueError("SET/UNSET TBLPROPERTIES needs at least one key")
    if any(
        k == "ballista.dropped-columns" for k in list(set_props) + unset
    ):
        raise ValueError(
            "ballista.dropped-columns is ALTER's retired-name registry "
            "— it cannot be edited directly"
        )
    read = _Meta(table_path, *_load_metadata(table_path))
    _refuse_v3_write(read.md, "SET TBLPROPERTIES")

    def build(state: _Meta):
        props = dict(state.md.get("properties") or {})
        for k in unset:
            props.pop(k, None)
        props.update(set_props)
        return {**state.md, "properties": props}, ()

    return _commit(read, build)


def compact_iceberg_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> int | None:
    """Transactional small-file compaction (``rewrite.compact``, shared
    with ``deltalog.compact_delta_table``).  Returns the new snapshot
    id, or None when nothing needed compacting.

    Three rewrite shapes, committed as one REPLACE snapshot:

    - default: FFD bin-pack files under ``target_file_bytes`` and
      rewrite each bin as one file; untouched files' manifest records
      carry forward verbatim (status EXISTING, bounds bytes untouched).
    - ``cluster_by``: range-partition + sort ALL live rows into
      ``ceil(total/target)`` outputs, so the Appendix-D bounds become
      selective.
    - a table with v2 POSITION delete files also forces a full rewrite
      through the tombstone-applying scan: rewriting changes row
      positions, so tombstones cannot survive any partial rewrite.  The
      replace snapshot carries no delete files — compaction is how a
      MOR table becomes plain.

    Readers at older snapshots stay correct (old files are never
    deleted here); the ``ballista_iceberg`` STREAMING face skips
    replace snapshots entirely — a compaction adds no rows, the Delta
    ``dataChange: false`` analogue.
    """
    t = _Rewrite(spark, table_path, "OPTIMIZE")
    has_deletes = len(t.live) != len(t.live_files())
    return rewrite.compact(t, target_file_bytes, cluster_by, full=has_deletes)


def expire_iceberg_snapshots(
    table_path: str,
    retention_ms: int = 7 * 24 * 3600 * 1000,
    keep_last: int = 1,
    now: int | None = None,
) -> list[str]:
    """Expire snapshots older than ``retention_ms`` (always keeping the
    current one and the ``keep_last`` most recent), commit the trimmed
    metadata, THEN physically delete data files, manifests and
    manifest lists referenced ONLY by expired snapshots.  Returns the
    deleted paths — the Iceberg twin of ``deltalog.vacuum_delta_table``
    (Iceberg's own expire_snapshots maintenance action).

    All expired snapshots' references are unioned BEFORE anything is
    deleted — expired snapshots routinely share manifests (appends
    carry them forward), and a per-snapshot reap would delete a
    manifest another expired snapshot still needs to enumerate, wedging
    expiry halfway.  The retention window IS the time-travel window.
    The trimmed metadata commits through :func:`_commit`: a lost race
    re-plans the expiry on the winner's metadata, so a racer's snapshot
    is kept and no file it reads is deleted.  Files are deleted only
    after the commit (a crash in between leaves orphans, as in
    Iceberg's ExpireSnapshots).
    Driver-side metadata work is O(snapshots × manifests); nothing
    row-sized is touched.
    """
    import time

    now = int(time.time() * 1000) if now is None else int(now)
    horizon = now - int(retention_ms)
    read = _Meta(table_path, *_load_metadata(table_path))
    _refuse_v3_write(read.md, "EXPIRE SNAPSHOTS")
    doomed: set[str] = set()

    def _refs(snapshot: dict):
        """({manifest-list path}, {manifest paths}, {data-file paths})."""
        mans, files = set(), set()
        for m in _manifest_records(table_path, snapshot):
            mp = _norm_path(table_path, m["manifest_path"])
            mans.add(mp)
            for e in _read_manifest(mp):
                if e.get("status", 1) != 2:
                    files.add(_norm_path(table_path, e["data_file"]["file_path"]))
        return {_norm_path(table_path, snapshot["manifest-list"])}, mans, files

    def build(state: _Meta):
        md = state.md
        snaps = list(md.get("snapshots") or [])
        ordered = sorted(snaps, key=lambda s: s["timestamp-ms"])
        keep_ids = {s["snapshot-id"] for s in ordered[-max(1, keep_last):]}
        keep_ids.add(md.get("current-snapshot-id"))
        kept = [
            s
            for s in ordered
            if s["snapshot-id"] in keep_ids or s["timestamp-ms"] >= horizon
        ]
        expired = [s for s in ordered if s not in kept]
        if not expired:
            return None
        # union ALL expired refs first (see docstring), then delete once
        live = [set(), set(), set()]  # manifest lists, manifests, files
        dead = [set(), set(), set()]
        for group, refs in ((kept, live), (expired, dead)):
            for s in group:
                for acc, got in zip(refs, _refs(s)):
                    acc |= got
        doomed.clear()
        doomed.update(*(d - lv for d, lv in zip(dead, live)))
        expired_ids = {s["snapshot-id"] for s in expired}
        new_md = dict(md)
        new_md["last-updated-ms"] = now
        new_md["snapshots"] = [
            s for s in snaps if s["snapshot-id"] not in expired_ids
        ]
        new_md["snapshot-log"] = [
            e
            for e in (md.get("snapshot-log") or [])
            if e["snapshot-id"] not in expired_ids
        ]
        return new_md, ()

    if _commit(read, build) is None:
        return []
    deleted: list[str] = []
    for p in sorted(doomed):
        if fsio.exists(p):
            fsio.remove(p)
            deleted.append(os.path.relpath(p, table_path)
                           if fsio.is_local(p) else p)
    return sorted(deleted)


#: each row-level operation's snapshot ``operation`` (spec summary)
_SNAPSHOT_OPERATION = {
    "DELETE": "delete",
    "UPDATE": "overwrite",  # an update changes rows
    "MERGE": "overwrite",
    "OPTIMIZE": "replace",
}


class _Rewrite:
    """The ``rewrite.Table`` adapter over the metadata version a
    row-level writer read (:func:`_load_metadata`): files are the live
    DATA manifest entries, scanned through :func:`_scan_snapshot` (field
    ids bound on renamed tables, delete files applied) and committed by
    :func:`_commit_snapshot` on that version."""

    def __init__(
        self, spark: SparkSession, table_path: str, op: str,
        alias: str | None = None,
    ):
        import uuid as _uuid

        self.spark, self.table_path, self.alias = spark, table_path, alias
        self.read = _Meta(table_path, *_load_metadata(table_path))
        self.md = self.read.md
        _refuse_v3_write(self.md, op)
        schema_json = _current_schema(self.md)
        self.schema = iceberg_to_spark_type(schema_json)
        self.ids = _field_ids(schema_json)
        self.snapshot_id = _uuid.uuid4().int >> 75  # positive 53-bit long
        #: every live entry, data AND delete files
        self.live = self.read.live

    def live_files(self) -> list[dict]:
        return self.read.data

    def may_match(self, files, conjuncts) -> list[dict]:
        # decodes only the columns the conjuncts compare (_LazyBounds)
        by_name = {name: (fid, ft) for fid, (name, ft) in self.ids.items()}
        out = []
        for e in files:
            d = e["data_file"]
            b = _LazyBounds(d.get("lower_bounds"), d.get("upper_bounds"), by_name)
            if all(_bounds_may_match(b, c, op, v) for c, op, v in conjuncts):
                out.append(e)
        return out

    def path(self, e: dict) -> str:
        return _abs_path(self.table_path, e["data_file"]["file_path"])

    def size(self, e: dict) -> int:
        return int(e["data_file"]["file_size_in_bytes"])

    def partition(self, e: dict) -> tuple:
        return ()  # unpartitioned layout

    @functools.cached_property
    def snap(self) -> IcebergSnapshot:
        return _resolve_snapshot(self.table_path, self.md)

    def scan(self, files, file_col=None, pos_col=None) -> DataFrame:
        tp = self.table_path
        keep = {_norm_path(tp, e["data_file"]["file_path"]) for e in files}
        snap = copy.copy(self.snap)
        snap.files = [f for f in snap.files if f[0] in keep]
        df = _scan_snapshot(self.spark, snap, file_col, pos_col)
        return df.alias(self.alias) if self.alias else df

    def stage(self, df: DataFrame, data_change: bool = True) -> list[dict]:
        return _stage_entries(df, self.table_path, self.ids, self.snapshot_id)

    def commit(self, removed, added, op, params, txn=None) -> int | None:
        # the replacing manifest re-records the kept data files; delete
        # files never carry over: row-level writers refuse tables that
        # have them, and OPTIMIZE then rewrites every data file through
        # them
        gone = _file_paths(removed)

        def kept(state: _Meta) -> list[dict]:
            return [e for e in state.data if e["data_file"]["file_path"] not in gone]

        summary = {
            "operation": _SNAPSHOT_OPERATION[op],
            **params,
            "added-data-files": str(len(added)),
        }
        return _commit_snapshot(
            self.read, self.snapshot_id, added, summary, kept=kept,
            txn=txn or (None, None),
        )

    def txn_applied(self, txn) -> bool:
        return txn is not None and _txn_replayed(self.md, *txn) is not None


def _refuse_delete_files(t: _Rewrite, op: str, hint: str = "") -> None:
    """Copy-on-write rewrites refuse tables with v2 delete files:
    rewriting a file invalidates ITS tombstone positions while other
    files' tombstones must survive."""
    if len(t.live) != len(t.live_files()):
        raise IcebergFeatureError(
            f"table has v2 delete files: copy-on-write {op} cannot carry "
            "tombstones across a rewrite — compact_iceberg_table first "
            f"(it applies them){hint}"
        )


def delete_from_iceberg_table(
    spark: SparkSession,
    table_path: str,
    filters: list[tuple[str, str, object]] | Column,
    use_position_deletes: bool | None = None,
    alias: str | None = None,
) -> int | None:
    """DELETE: remove every row matching ``filters`` — either (col, op,
    value) triples, ALL of which must hold (the proof language the
    readers prune on), or any Column predicate, whose provable
    top-level conjuncts prune — touching ONLY the files that provably
    contain matches (``rewrite.delete``).  Commits one snapshot
    (operation ``delete``); returns its id, or None when no row matched
    (zero writes).  Rows where the predicate is NULL are KEPT — SQL
    DELETE semantics.

    Two write shapes (the Iceberg twin of
    ``delete_from_delta_table``'s COW/DV split):

    - default (copy-on-write): touched files REWRITE without the
      matching rows (a file left empty disappears); untouched files'
      manifest records carry forward verbatim.  Cost tracks touched
      BYTES.  Tables with v2 delete files refuse — run
      ``compact_iceberg_table`` first (it applies the tombstones).
    - ``use_position_deletes=True`` — or None (the default) on a table
      with ``write.delete.mode=merge-on-read``, the spec's routing
      property (spec v2 merge-on-read): matched
      (file, position) pairs write as sorted position-delete PARQUET
      files with the spec's reserved field ids, referenced from a new
      DELETE manifest (``content=1``); ZERO data bytes rewritten, cost
      tracks MATCHED ROWS.  The commit upgrades the table to
      format-version 2 and assigns the snapshot a sequence number.
      Repeating the same DELETE is a no-op (existing tombstones
      apply in the matched scan executor-side).  Purge later
      with ``compact_iceberg_table`` (a table with delete files
      compacts through the tombstone-applying scan and the replace
      snapshot carries none).

    Old snapshots stay readable until ``expire_iceberg_snapshots``;
    the ``ballista_iceberg`` streaming face refuses delete snapshots
    (a stream cannot retract).  ``alias`` is the name a Column
    predicate qualifies the table's columns by (SQL ``DELETE FROM t AS
    x WHERE x.id = 1``).
    """
    t = _Rewrite(spark, table_path, "DELETE", alias)
    if use_position_deletes is None:
        # the spec's routing property: merge-on-read tables get the
        # zero-rewrite shape (SQL DELETE included); explicit True/False
        # overrides
        use_position_deletes = (
            (t.md.get("properties") or {})
            .get("write.delete.mode", "copy-on-write")
            .lower()
            == "merge-on-read"
        )
    if not use_position_deletes:
        _refuse_delete_files(t, "DELETE", ", or pass use_position_deletes=True")
        return rewrite.delete(t, filters)
    for e in t.live:
        content = e["data_file"].get("content", 0) or 0
        fmt = (e["data_file"].get("file_format") or "PARQUET").upper()
        if content == 2 or (content == 1 and fmt != "PARQUET"):
            raise IcebergFeatureError(
                "position-delete DELETE on a table with equality "
                "deletes or Puffin deletion vectors is not "
                "supported (their sequence/vector bookkeeping "
                "would interleave) — compact_iceberg_table first"
            )
    # renamed tables are fine: the matched scan binds by field id and
    # tombstones are (file, pos) pairs — name-independent by construction
    return rewrite.delete(
        t, filters, lambda c, pred: _delete_with_position_deletes(t, c, pred)
    )


def _delete_with_position_deletes(
    t: _Rewrite, candidates: list[dict], pred
) -> int | None:
    """The zero-rewrite shape of DELETE (see delete_from_iceberg_table)
    over the stats-pruned ``candidates`` — the Iceberg v2 twin of
    ``deltalog._delete_with_deletion_vectors``.

    Matched row positions NEVER collect to the driver: the candidate
    files scan with their (file, row_index), existing tombstones apply
    in that scan executor-side (a repeated DELETE commits nothing), and
    the matches write DISTRIBUTED as sorted position-delete parquet
    under ``data/`` — the driver only moves staged files and reads
    their footers, exactly the data-write discipline of
    ``_stage_entries``.  One new DELETE manifest (``content=1``, spec
    reserved field ids 2147483546/2147483545) joins the manifest list
    next to the carried-forward data manifests; the commit upgrades the
    table to format-version 2 and advances ``last-sequence-number``.
    """
    import math

    matched = (
        t.scan(candidates, file_col="__file", pos_col="__rowpos")
        .where(pred)
        .select(F.col("__file").alias("file_path"), F.col("__rowpos").alias("pos"))
    )
    # spec: position-delete rows sorted by (file_path, pos); each output
    # file covers a contiguous file range so a future id-aware reader
    # can skip delete files by their file_path bounds
    n_out = max(1, math.ceil(len(candidates) / 64))
    if n_out > 1:
        matched = matched.repartitionByRange(n_out, "file_path", "pos")
    else:
        matched = matched.coalesce(1)
    matched = matched.sortWithinPartitions("file_path", "pos")

    entries = _stage_entries(
        matched, t.table_path, _POS_DELETE_IDS, t.snapshot_id, content=1
    )
    if not entries:
        return None  # no new match — every hit was already tombstoned
    return _commit_snapshot(
        t.read,
        t.snapshot_id,
        entries,
        {
            "operation": "delete",
            "added-delete-files": str(len(entries)),
            "added-position-deletes": str(
                sum(e["data_file"]["record_count"] for e in entries)
            ),
        },
        content=1,
    )


def update_iceberg_table(
    spark: SparkSession,
    table_path: str,
    set_exprs,
    filters: list[tuple[str, str, object]] | Column | None = None,
    alias: str | None = None,
) -> int | None:
    """Copy-on-write ``UPDATE ... SET ... WHERE`` (``rewrite.update``):
    rows matching ``filters`` (ALL of the triples, or a Column
    predicate, as in :func:`delete_from_iceberg_table`) get each
    ``set_exprs`` column (SQL string or Column) applied, cast back to
    the column's declared type so the table schema never drifts;
    non-matching rows in a touched file carry through the rewrite
    unchanged.  ``filters=None`` = unconditional full-table UPDATE.
    Returns the new snapshot id, or None when no row matched (zero
    writes).  Same discipline and restrictions as
    :func:`delete_from_iceberg_table`: untouched files' manifest
    records carry forward verbatim; v2 delete-file tables refuse
    (compact first); the streaming face refuses the resulting
    overwrite snapshot (an update changes rows).  ``alias`` qualifies
    columns as in :func:`delete_from_iceberg_table`.
    """
    t = _Rewrite(spark, table_path, "UPDATE", alias)
    _refuse_delete_files(t, "UPDATE")
    return rewrite.update(t, set_exprs, filters)


def merge_iceberg_table(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int | None:
    """``MERGE INTO`` the Iceberg table (``rewrite.merge``, shared with
    ``deltalog.merge_delta_table``): matched rows (on the ``on`` keys)
    are replaced by the source row (SCD-1) or deleted; unmatched source
    rows insert when ``insert_not_matched`` — into an empty table too
    (the CDC-bootstrap case).  One atomic snapshot (operation
    ``overwrite`` — a merge changes rows, so the streaming face refuses
    it); returns its id, or None for a no-op merge or a replayed
    ``txn_app_id``/``txn_version`` epoch.  Only the touched files
    (stats-pruned on the source's key bounds, then probed in one job)
    are rewritten, in ONE staged write with the source rows the merge
    writes; untouched files' manifest records carry forward verbatim.
    Tables with v2 delete files refuse (compact first — it applies the
    tombstones).
    """
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version must be passed together")
    t = _Rewrite(spark, table_path, "MERGE")
    txn = None if txn_app_id is None else (txn_app_id, txn_version)
    if not t.txn_applied(txn):
        _refuse_delete_files(t, "MERGE")
    return rewrite.merge(t, source, on, when_matched, insert_not_matched, txn)
