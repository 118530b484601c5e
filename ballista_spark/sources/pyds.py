"""Spark 4 Python DataSource faces for the jar-free table formats —
``spark.read.format("ballista_delta")``, a STREAMING Delta source, and
``format("ballista_avro")``.

The Python DataSource API (pyspark.sql.datasource, Spark 4) is the
idiomatic integration point: Catalyst owns the plan, the source
declares its schema, receives pushed filters, and hands Spark one
InputPartition per file — so parallelism, task scheduling, AQE and
column pruning all behave exactly like a native source, while the
format logic stays the pure-Python readers this repo already tests
(`deltalog`, `avroio`).

What each face adds over the function APIs:

- ``ballista_delta`` (batch): Catalyst-integrated FILE SKIPPING —
  with ``.option("pushdown", "true")``, ``pushFilters`` receives the
  query's own predicates, the reader prunes live files against the
  log's per-file stats (the ``deltalog._file_may_match`` proof
  contract), and returns every filter as residual so Spark still
  applies exact row filtering.  No advisory ``filters=`` argument
  needed: ``.where("id > 5")`` alone skips files.

  Pruning is OPT-IN because of a Spark 4.1 scan-reuse hazard this
  repo measured directly: the JVM caches the planned (read function,
  partitions) on the relation and re-plans ONLY when the next query
  has pushable filters.  A query with no filters re-uses the cached
  scan — so ``df = load(); df.where("id>=200").count(); df.count()``
  would answer the second count from the PRUNED partition list
  (observed: 10 instead of 30).  The Python side cannot detect the
  reuse (the planning worker builds a fresh reader each run —
  ``pyspark/sql/worker/data_source_pushdown_filters.py``), so the
  only always-correct default is a filter-INDEPENDENT scan.  With
  ``pushdown=true`` the intended pattern is one ``load()`` per query
  (re-planning with fresh filters is always correct); reusing one
  loaded DataFrame for a later filterless query is the one unsafe
  shape, and the regression test pins both behaviors.
- ``ballista_delta`` (stream): ``spark.readStream`` over the
  transaction log — offsets are commit versions, each micro-batch is
  exactly the ``dataChange`` files of the new commits (the
  ``read_delta_changes`` contract), one Spark task per file.  With the
  exactly-once sink (`streaming/sinks.py`) this closes the loop: Delta
  in, Delta out, both jar-free.
- ``ballista_avro`` (batch): one partition per container file, Arrow
  record batches straight from the block decoder.
- ``ballista_iceberg`` (batch): same Catalyst integration over the
  Iceberg metadata tree — ``pushFilters`` prunes data files against the
  manifests' Appendix-D column bounds (opt-in ``pushdown=true``, same
  reuse hazard), one partition per live data file; ``version`` selects
  a snapshot id (time travel).
- ``ballista_iceberg`` (stream): micro-batches over the snapshot log —
  offsets are snapshot-log ordinals, each batch is exactly the data
  files the new append snapshots added (manifest entries with
  ``status=1`` and a matching ``snapshot_id``); replace (compaction)
  snapshots are skipped (no new rows), overwrites refuse.
- ``ballista_hudi`` (batch): the COW snapshot, one partition per
  resolved file slice; ``version`` = as-of instant (time travel).
- ``ballista_hudi`` (stream): offsets are completed-commit-timeline
  ordinals; each batch is the files the new commits' write stats name
  (replacecommit clustering skipped — no new rows).

Registration: ``register_data_sources(spark)`` — then the formats are
available by name for the session.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T

__all__ = [
    "DeltaDataSource",
    "AvroDataSource",
    "IcebergDataSource",
    "HudiDataSource",
    "register_data_sources",
]


def _arrow_schema_for(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _py_partition_value(raw: str | None, dt: T.DataType):
    """Log partition values are strings; coerce to the column's type."""
    if raw is None or raw == "":
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, T.DateType):
        import datetime

        return datetime.date.fromisoformat(raw)
    return raw


@dataclass
class _FilePartition(InputPartition):
    path: str
    partition_values: dict
    #: logical -> physical parquet column names (Delta column mapping);
    #: empty for plain tables and the iceberg/hudi/avro faces
    column_renames: dict = None
    #: Delta deletion-vector descriptor for THIS file (or None) — the
    #: small descriptor ships to the task; the bitmap decodes
    #: executor-side and masks rows by position
    deletion_vector: dict = None
    #: table root, needed to resolve a "u"-storage DV file
    table_path: str = None
    #: Iceberg field-id map {field_id: current_name} — set on RENAMED
    #: tables so the reader re-binds each file's columns by the ids in
    #: its own footer instead of by (possibly pre-rename) name
    field_ids: dict = None


class _DeltaReader(DataSourceReader):
    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]
        self.version = (
            int(options["version"]) if options.get("version") else None
        )
        self.pushdown = (
            str(options.get("pushdown", "false")).lower() == "true"
        )
        self._pruned: list[tuple[str, str, object]] = []

    def pushFilters(self, filters: list[Filter]):
        """Translate top-level comparison filters into the log-stats
        prune list; EVERY filter is returned as residual — pruning is a
        file-level superset proof, Spark keeps exact row semantics.

        Pruning only applies when the relation was loaded with
        ``pushdown=true`` — see the module doc for the Spark 4.1
        scan-reuse hazard that makes a filter-dependent scan unsafe as
        the default."""
        self._pruned = []
        if not self.pushdown:
            yield from filters
            return
        for f in filters:
            attr = getattr(f, "attribute", None)
            if not attr or len(attr) != 1:
                yield f
                continue
            col = attr[0]
            if isinstance(f, EqualTo):
                self._pruned.append((col, "=", f.value))
            elif isinstance(f, GreaterThan):
                self._pruned.append((col, ">", f.value))
            elif isinstance(f, GreaterThanOrEqual):
                self._pruned.append((col, ">=", f.value))
            elif isinstance(f, LessThan):
                self._pruned.append((col, "<", f.value))
            elif isinstance(f, LessThanOrEqual):
                self._pruned.append((col, "<=", f.value))
            elif isinstance(f, IsNull):
                self._pruned.append((col, "is_null", None))
            yield f  # always residual

    def partitions(self):
        from ballista_spark.sources.deltalog import (
            _prune_files,
            read_delta_snapshot,
        )

        snap = read_delta_snapshot(self.table_path, self.version)
        # consume-and-clear: a later query on the same relation that has
        # no filters never calls pushFilters, and must see every file.
        # Worst case of clearing (a replanned retry losing the prune
        # list) costs only skipped-file reads, never correctness —
        # filters are always returned as residual.
        pruned, self._pruned = self._pruned, []
        if pruned:
            snap = _prune_files(snap, pruned)
        return [
            _FilePartition(
                path=os.path.join(self.table_path, f.path),
                partition_values={
                    c: f.partition_values.get(c)
                    for c in snap.partition_columns
                },
                column_renames=snap.column_mapping or None,
                deletion_vector=f.deletion_vector,
                table_path=self.table_path,
            )
            for f in snap.files
        ] or [_FilePartition(path="", partition_values={})]

    def read(self, partition: _FilePartition):
        if not partition.path:  # empty snapshot sentinel
            return
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )


def _read_parquet_with_partition_values(
    partition: _FilePartition, spark_schema: T.StructType
):
    """One data file → Arrow batches in the declared schema order, with
    hive partition columns attached as constants.  A deletion-vector
    descriptor on the partition decodes HERE (executor-side) and masks
    rows by file position before the batch leaves the reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    deleted = None
    if partition.deletion_vector:
        import numpy as np

        from ballista_spark.sources.deltalog import _dv_positions

        deleted = np.asarray(
            _dv_positions(partition.table_path, partition.deletion_vector),
            dtype=np.int64,
        )  # sorted by construction

    target = _arrow_schema_for(spark_schema)
    part_cols = set(partition.partition_values)
    phys = dict(partition.column_renames or {})
    pf = pq.ParquetFile(partition.path)  # ONE footer open per task
    if partition.field_ids:
        # renamed Iceberg table: bind THIS file's columns by the field
        # ids in its own footer (pre-rename files carry old names)
        by_id = {}
        for fld in pf.schema_arrow:
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = fld.name
        for fid, cur_name in partition.field_ids.items():
            file_name = by_id.get(int(fid))
            if file_name is not None and file_name != cur_name:
                phys[cur_name] = file_name
    data_cols = [
        phys.get(f.name, f.name)
        for f in spark_schema.fields
        if f.name not in part_cols
    ]
    row_offset = 0
    for batch in pf.iter_batches(columns=data_cols):
        if deleted is not None:
            import numpy as np

            n0 = batch.num_rows
            # vectorized mask: slice the sorted position array to this
            # batch's [offset, offset+n) window — C speed, never a
            # per-row Python loop (review finding)
            lo, hi = np.searchsorted(deleted, [row_offset, row_offset + n0])
            keep = np.ones(n0, dtype=bool)
            keep[deleted[lo:hi] - row_offset] = False
            row_offset += n0
            if hi > lo:
                batch = batch.filter(pa.array(keep))
                if batch.num_rows == 0:
                    continue
        n = batch.num_rows
        arrays = []
        for field in spark_schema.fields:
            tf = target.field(field.name)
            if field.name in part_cols:
                v = _py_partition_value(
                    partition.partition_values[field.name], field.dataType
                )
                arrays.append(pa.array([v] * n, type=tf.type))
            else:
                arrays.append(
                    batch.column(phys.get(field.name, field.name)).cast(tf.type)
                )
        yield pa.RecordBatch.from_arrays(arrays, schema=target)


class _DeltaStreamReader(DataSourceStreamReader):
    """Micro-batch source over the transaction log: offsets are commit
    versions; batch (start, end] = the dataChange files those commits
    added, one task per file.  Compaction/clustering rewrites
    (dataChange: false) are invisible, exactly as a consumer wants."""

    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]

    def _current_version(self) -> int:
        from ballista_spark.sources.deltalog import _list_log_versions

        versions = _list_log_versions(self.table_path)
        return versions[-1] if versions else -1

    def initialOffset(self) -> dict:
        start = self.options.get("startingVersion")
        if start is not None:
            return {"version": int(start) - 1}  # consume from `start` on
        return {"version": self._current_version()}  # only NEW commits

    def latestOffset(self) -> dict:
        return {"version": self._current_version()}

    def partitions(self, start: dict, end: dict):
        from ballista_spark.sources.deltalog import (
            _commit_path,
            _iter_commit_actions,
            _list_log_versions,
            _normalize_rel,
            read_delta_snapshot,
        )

        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        snap = read_delta_snapshot(self.table_path)  # partition cols
        out = []
        for v in _list_log_versions(self.table_path):
            if not (lo < v <= hi):
                continue
            for action in _iter_commit_actions(
                _commit_path(self.table_path, v)
            ):
                rm = action.get("remove")
                if rm and rm.get("dataChange", True):
                    # an overwrite/delete commit retracts rows; emitting
                    # its adds as appends would duplicate everything the
                    # stream already delivered (compaction rewrites set
                    # dataChange:false and pass through untouched)
                    raise ValueError(
                        f"delta commit {v} removes data (overwrite/"
                        "delete): a stream cannot represent retraction "
                        "— restart from a later startingVersion past it"
                    )
                a = action.get("add")
                if a and a.get("deletionVector"):
                    raise ValueError(
                        f"delta commit {v} attaches a deletion vector: "
                        "a stream cannot represent retraction — restart "
                        "from a later startingVersion past it"
                    )
                if a and a.get("dataChange", True):
                    pv = dict(a.get("partitionValues") or {})
                    out.append(
                        _FilePartition(
                            path=os.path.join(
                                self.table_path,
                                _normalize_rel(self.table_path, a["path"]),
                            ),
                            partition_values={
                                c: pv.get(c) for c in snap.partition_columns
                            },
                        )
                    )
        return out

    def read(self, partition: _FilePartition):
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )

    def commit(self, end: dict) -> None:
        pass  # the log is the source of truth; nothing to acknowledge


class DeltaDataSource(DataSource):
    """``spark.read.format("ballista_delta").option("path", p)`` /
    ``spark.readStream.format("ballista_delta")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "ballista_delta"

    def schema(self):
        from ballista_spark.sources.deltalog import read_delta_snapshot

        version = self.options.get("version")
        return read_delta_snapshot(
            self.options["path"], int(version) if version else None
        ).schema

    def reader(self, schema):
        return _DeltaReader(self.options, schema)

    def streamReader(self, schema):
        return _DeltaStreamReader(self.options, schema)


class _IcebergReader(DataSourceReader):
    """One partition per live data file; opt-in pushFilters pruning over
    the manifests' decoded column bounds (same consume-and-clear +
    reuse-hazard contract as _DeltaReader — see the module doc)."""

    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]
        self.snapshot_id = (
            int(options["version"]) if options.get("version") else None
        )
        self.pushdown = (
            str(options.get("pushdown", "false")).lower() == "true"
        )
        self._pruned: list[tuple[str, str, object]] = []

    pushFilters = _DeltaReader.pushFilters

    def partitions(self):
        from ballista_spark.sources.iceberg import (
            _bounds_may_match,
            read_iceberg_snapshot,
        )

        snap = read_iceberg_snapshot(self.table_path, self.snapshot_id)
        if snap.delete_files or snap.eq_deletes or snap.dv_deletes:
            raise ValueError(
                "table has delete files / deletion vectors: the "
                "per-file DataSource face would return deleted rows — "
                "read it through read_iceberg_table (which applies "
                "position, equality AND deletion-vector tombstones) "
                "or compact first"
            )
        if snap.initial_defaults:
            raise ValueError(
                "schema declares v3 initial-default fields: the "
                "per-file DataSource face would return NULL where the "
                "default applies — read it through read_iceberg_table "
                "(which fills defaults per file)"
            )
        # renamed table: ship the {field_id: current_name} map so each
        # task re-binds its file's columns by the ids in its own footer
        fids = None
        if snap.field_id_binding:
            fids = {
                int(f["id"]): f["name"]
                for f in snap.schema_json.get("fields", [])
            }
        pruned, self._pruned = self._pruned, []
        files = snap.files
        if pruned:
            files = [
                f
                for f in files
                if all(_bounds_may_match(f[2], c, op, v) for (c, op, v) in pruned)
            ]
        return [
            _FilePartition(path=f[0], partition_values={}, field_ids=fids)
            for f in files
        ] or [_FilePartition(path="", partition_values={})]

    def read(self, partition: _FilePartition):
        if not partition.path:  # empty snapshot sentinel
            return
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )


class _IcebergStreamReader(DataSourceStreamReader):
    """Micro-batch source over the snapshot log; batch (start, end] =
    the data files the new APPEND snapshots added (manifest entries
    with status=1 and the snapshot's id).  Replace (compaction)
    snapshots are skipped — no new rows; overwrite snapshots raise — a
    stream cannot represent retraction.

    Offsets are the (timestamp-ms, snapshot-id) of the LAST CONSUMED
    log entry, NOT a list position: ``expire_iceberg_snapshots`` trims
    the snapshot-log, and a positional offset would silently skip or
    replay snapshots after expiry.  If the last-consumed entry itself
    has been expired, consumption resumes at the first entry newer than
    its timestamp (older entries were either consumed or expired); an
    entry that expired BEFORE consumption raises when its snapshot
    cannot be resolved — data loss must be loud."""

    _SENTINEL = {"ts": -1, "sid": -1}

    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]

    def _log(self) -> list[dict]:
        from ballista_spark.sources.iceberg import _load_metadata

        try:
            _, md = _load_metadata(self.table_path)
        except FileNotFoundError:
            return []
        return list(md.get("snapshot-log") or [])

    @staticmethod
    def _off(entry: dict) -> dict:
        return {"ts": int(entry["timestamp-ms"]), "sid": entry["snapshot-id"]}

    def initialOffset(self) -> dict:
        log = self._log()
        start = self.options.get("startingOrdinal")
        if start is not None:
            n = int(start)
            if n <= 0 or not log:
                return dict(self._SENTINEL)
            return self._off(log[min(n, len(log)) - 1])
        return self._off(log[-1]) if log else dict(self._SENTINEL)

    def latestOffset(self) -> dict:
        log = self._log()
        return self._off(log[-1]) if log else dict(self._SENTINEL)

    def _positions(self, log: list[dict], start: dict, end: dict):
        if end.get("sid") == -1:
            return range(0)
        if start.get("sid") == -1:
            i0 = 0
        else:
            j = next(
                (i for i, e in enumerate(log) if e["snapshot-id"] == start["sid"]),
                None,
            )
            if j is not None:
                i0 = j + 1
            else:  # start entry expired: resume past its timestamp
                i0 = next(
                    (
                        i
                        for i, e in enumerate(log)
                        if int(e["timestamp-ms"]) > int(start["ts"])
                    ),
                    len(log),
                )
        k = next(
            (i for i, e in enumerate(log) if e["snapshot-id"] == end["sid"]),
            None,
        )
        if k is None:  # end expired mid-flight: bound by its timestamp
            k = max(
                (
                    i
                    for i, e in enumerate(log)
                    if int(e["timestamp-ms"]) <= int(end["ts"])
                ),
                default=-1,
            )
        return range(i0, k + 1)

    def partitions(self, start: dict, end: dict):
        from ballista_spark.sources.avroio import read_avro_bytes
        from ballista_spark.sources.iceberg import _load_metadata, _norm_path

        _, md = _load_metadata(self.table_path)
        log = list(md.get("snapshot-log") or [])
        snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
        # renamed table: bind replayed files' columns by field id (a
        # stream replay may cross the rename boundary)
        from ballista_spark.sources.iceberg import (
            _collect_initial_defaults,
            _current_schema,
            _rename_in_history,
        )

        cur_schema = _current_schema(md)
        if _collect_initial_defaults(cur_schema):
            raise ValueError(
                "schema declares v3 initial-default fields: the "
                "per-file streaming face would return NULL where the "
                "default applies — use read_iceberg_table batches"
            )
        fids = None
        if _rename_in_history(md, cur_schema):
            fids = {
                int(f["id"]): f["name"]
                for f in cur_schema.get("fields", [])
            }
        out = []
        for i in self._positions(log, start, end):
            sid = log[i]["snapshot-id"]
            snap = snaps.get(sid)
            if snap is None:
                raise ValueError(
                    f"snapshot {sid} expired before the stream consumed "
                    "it — increase the expiry retention or restart the "
                    "stream from a later startingOrdinal"
                )
            op = (snap.get("summary") or {}).get("operation", "append")
            if op == "replace":
                continue  # compaction adds no rows (dataChange:false analogue)
            if op != "append":
                raise ValueError(
                    f"snapshot {snap['snapshot-id']} is {op!r}: a stream "
                    "cannot represent retraction — restart from a later "
                    "startingOrdinal past it"
                )
            with open(
                _norm_path(self.table_path, snap["manifest-list"]), "rb"
            ) as f:
                manifests, _sch = read_avro_bytes(f.read())
            for m in manifests:
                if m.get("added_snapshot_id") != snap["snapshot-id"]:
                    continue
                with open(
                    _norm_path(self.table_path, m["manifest_path"]), "rb"
                ) as f:
                    entries, _sch = read_avro_bytes(f.read())
                for e in entries:
                    if e.get("status", 1) != 1:
                        continue
                    if e.get("snapshot_id") not in (None, snap["snapshot-id"]):
                        continue
                    out.append(
                        _FilePartition(
                            path=_norm_path(
                                self.table_path, e["data_file"]["file_path"]
                            ),
                            partition_values={},
                            field_ids=fids,
                        )
                    )
        return out

    def read(self, partition: _FilePartition):
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )

    def commit(self, end: dict) -> None:
        pass  # the snapshot log is the source of truth


class IcebergDataSource(DataSource):
    """``spark.read.format("ballista_iceberg").option("path", p)`` /
    ``spark.readStream.format("ballista_iceberg")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "ballista_iceberg"

    def schema(self):
        from ballista_spark.sources.iceberg import read_iceberg_snapshot

        version = self.options.get("version")
        return read_iceberg_snapshot(
            self.options["path"], int(version) if version else None
        ).spark_schema

    def reader(self, schema):
        return _IcebergReader(self.options, schema)

    def streamReader(self, schema):
        return _IcebergStreamReader(self.options, schema)


def _hudi_spark_schema(table_path: str) -> T.StructType:
    """Schema of the first resolved base file minus the ``_hoodie_*``
    meta columns — driver-side footer read only."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from ballista_spark.sources.hudi import hudi_snapshot_files

    files = hudi_snapshot_files(table_path)
    if not files:
        raise FileNotFoundError(
            f"no committed base files in Hudi table {table_path!r}"
        )
    full = from_arrow_schema(pq.read_schema(files[0]))
    return T.StructType(
        [f for f in full.fields if not f.name.startswith("_hoodie_")]
    )


class _HudiReader(DataSourceReader):
    """One partition per resolved COW file slice; ``version`` = as-of
    instant."""

    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]
        self.as_of = options.get("version")

    def partitions(self):
        from ballista_spark.sources.hudi import hudi_snapshot_files

        files = hudi_snapshot_files(self.table_path, self.as_of)
        return [
            _FilePartition(path=p, partition_values={}) for p in files
        ] or [_FilePartition(path="", partition_values={})]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )


class _HudiStreamReader(DataSourceStreamReader):
    """Micro-batch source over the completed timeline: offsets are
    ordinals into the sorted instant list; batch (start, end] = the
    files those commits' write stats name.  ``replacecommit``
    (clustering) instants are skipped — they add no rows."""

    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema
        self.table_path = options["path"]

    def _timeline(self):
        from ballista_spark.sources.hudi import _timeline

        try:
            return _timeline(self.table_path)
        except FileNotFoundError:
            return []

    def initialOffset(self) -> dict:
        start = self.options.get("startingOrdinal")
        if start is not None:
            return {"ordinal": int(start)}
        return {"ordinal": len(self._timeline())}  # only NEW commits

    def latestOffset(self) -> dict:
        return {"ordinal": len(self._timeline())}

    def partitions(self, start: dict, end: dict):
        import json as _json

        lo, hi = int(start["ordinal"]), int(end["ordinal"])
        if hi <= lo:
            return []
        from ballista_spark.sources.hudi import _replace_is_clustering

        timeline = self._timeline()
        out = []
        for ts, action, cpath in timeline[lo:hi]:
            if action == "replacecommit":
                if _replace_is_clustering(cpath):
                    continue  # clustering rewrites add no rows
                raise ValueError(
                    f"replacecommit {ts} is not a clustering rewrite "
                    "(insert_overwrite retracts rows): a stream cannot "
                    "represent retraction — restart from a later "
                    "startingOrdinal past it"
                )
            if action != "commit":
                continue
            with open(cpath, encoding="utf-8") as f:
                doc = _json.load(f)
            for _part, stats in (doc.get("partitionToWriteStats") or {}).items():
                for s in stats:
                    rel = s.get("path")
                    if rel:
                        out.append(
                            _FilePartition(
                                path=os.path.join(self.table_path, rel),
                                partition_values={},
                            )
                        )
        return out

    def read(self, partition: _FilePartition):
        yield from _read_parquet_with_partition_values(
            partition, self.spark_schema
        )

    def commit(self, end: dict) -> None:
        pass  # the timeline is the source of truth


class HudiDataSource(DataSource):
    """``spark.read.format("ballista_hudi").option("path", p)`` /
    ``spark.readStream.format("ballista_hudi")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "ballista_hudi"

    def schema(self):
        return _hudi_spark_schema(self.options["path"])

    def reader(self, schema):
        return _HudiReader(self.options, schema)

    def streamReader(self, schema):
        return _HudiStreamReader(self.options, schema)


class _AvroReader(DataSourceReader):
    def __init__(self, options, spark_schema: T.StructType):
        self.options = options
        self.spark_schema = spark_schema

    def partitions(self):
        import glob as _glob

        path = self.options["path"]
        if os.path.isdir(path):
            files = sorted(_glob.glob(os.path.join(path, "*.avro")))
        else:
            files = [path]
        if not files:
            raise FileNotFoundError(f"no .avro files under {path!r}")
        return [_FilePartition(path=p, partition_values={}) for p in files]

    def read(self, partition: _FilePartition):
        import pyarrow as pa

        from ballista_spark.sources.avroio import iter_avro_blocks

        target = _arrow_schema_for(self.spark_schema)
        names = [f.name for f in self.spark_schema.fields]
        with open(partition.path, "rb") as f:
            for block in iter_avro_blocks(f):
                if not block:
                    continue
                cols = {c: [r.get(c) for r in block] for c in names}
                yield pa.RecordBatch.from_pydict(cols, schema=target)


class AvroDataSource(DataSource):
    """``spark.read.format("ballista_avro").option("path", p)`` — the
    stdlib container codec behind the DataSource API (one partition per
    file, Arrow batches per block)."""

    @classmethod
    def name(cls) -> str:
        return "ballista_avro"

    def schema(self):
        import glob as _glob

        from ballista_spark.sources.avroio import (
            _read_header,
            avro_to_spark_schema,
        )

        path = self.options["path"]
        first = (
            sorted(_glob.glob(os.path.join(path, "*.avro")))[0]
            if os.path.isdir(path)
            else path
        )
        with open(first, "rb") as f:
            avro_schema, _codec, _sync = _read_header(f)
        return avro_to_spark_schema(avro_schema)

    def reader(self, schema):
        return _AvroReader(self.options, schema)


def register_data_sources(spark) -> None:
    """Register the formats on the session — afterwards
    ``format("ballista_delta")`` / ``format("ballista_avro")`` /
    ``format("ballista_iceberg")`` work in batch reads, and the delta +
    iceberg faces in ``readStream``.  Python-source
    filter pushdown ships disabled by default (Spark 4.1) — enabling it
    here is what lets ``pushFilters`` receive the query predicates."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaDataSource)
    spark.dataSource.register(AvroDataSource)
    spark.dataSource.register(IcebergDataSource)
    spark.dataSource.register(HudiDataSource)
