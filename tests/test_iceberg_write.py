"""Iceberg v1 WRITER tests (sources/iceberg.py:write_iceberg_table).

The round-trip through this repo's own reader is necessary but not
sufficient (paired writer/reader bugs cancel), so the suite also pins
the on-disk artifacts against the PUBLIC spec directly: metadata JSON
field names, manifest/manifest-list Avro field names, Appendix-D bound
encodings byte-compared against struct-packed literals, and footer
bounds cross-checked against pyarrow's own statistics.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import pyarrow.parquet as pq
import pytest

from ballista_spark.sources import iceberg, occ
from ballista_spark.sources.avroio import read_avro_bytes
from ballista_spark.sources.iceberg import (
    encode_bound,
    decode_bound,
    read_iceberg_snapshot,
    read_iceberg_table,
    spark_to_iceberg_schema,
    write_iceberg_table,
)


def _df(spark, rows, schema="id long, cat string, v double"):
    return spark.createDataFrame(rows, schema)


def _read_meta(path):
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint) as f:
        v = int(f.read().strip())
    with open(os.path.join(path, "metadata", f"v{v}.metadata.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# round-trips through the reader


def test_write_then_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(i, f"c{i % 3}", float(i)) for i in range(100)])
    write_iceberg_table(df, path)
    got = read_iceberg_table(spark, path)
    assert got.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_append_accumulates_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    s2 = write_iceberg_table(_df(spark, [(2, "b", 2.0)]), path)
    assert s1 != s2
    assert read_iceberg_table(spark, path).count() == 2
    # time travel to the first snapshot
    assert read_iceberg_table(spark, path, snapshot_id=s1).count() == 1
    assert [
        r["id"] for r in read_iceberg_table(spark, path, snapshot_id=s1).collect()
    ] == [1]


def test_overwrite_replaces_but_keeps_history(spark, tmp_path):
    path = str(tmp_path / "t")
    s1 = write_iceberg_table(_df(spark, [(i, "a", 0.0) for i in range(10)]), path)
    write_iceberg_table(_df(spark, [(99, "z", 9.0)]), path, mode="overwrite")
    cur = read_iceberg_table(spark, path)
    assert [r["id"] for r in cur.collect()] == [99]
    # the overwritten snapshot stays readable (files never deleted)
    assert read_iceberg_table(spark, path, snapshot_id=s1).count() == 10


def test_bounds_drive_file_skipping(spark, tmp_path):
    """Disjoint per-commit key ranges: the reader's advisory filters
    must prune whole files using the bounds this writer recorded."""
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    snap = read_iceberg_snapshot(path)
    assert snap.num_files == 3
    got = read_iceberg_table(spark, path, filters=[("id", ">=", 200)])
    assert got.count() == 10
    pruned = read_iceberg_snapshot(path)
    kept = [
        f
        for f in pruned.files
        if f[2].get("id") and f[2]["id"][1] is not None and f[2]["id"][1] >= 200
    ]
    assert len(kept) == 1


def test_schema_mismatch_on_append_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_iceberg_table(
            spark.createDataFrame([(1, 2)], "id long, other int"), path
        )


def _squat_next_version(path):
    """Publish a copy of the current metadata as the next version
    without moving the hint: a valid version the next writer's read
    does not see, so its first attempt loses."""
    meta = os.path.join(path, "metadata")
    with open(os.path.join(meta, "version-hint.text")) as f:
        v = int(f.read().strip())
    with open(os.path.join(meta, f"v{v + 1}.metadata.json"), "x") as f:
        json.dump(_read_meta(path), f)
    return v + 1


def test_concurrent_version_collision_single_winner(spark, tmp_path):
    """Exclusive create of vN.metadata.json: a writer whose version was
    taken by a valid commit retries past it (the winner's snapshots
    stay, this write lands at the next version)."""
    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    taken = _squat_next_version(path)
    sid = write_iceberg_table(_df(spark, [(2, "b", 2.0)]), path)
    assert iceberg._load_metadata(path)[0] == taken + 1
    assert _read_meta(path)["current-snapshot-id"] == sid
    assert [r[0] for r in _rows(spark, path)] == [1, 2]


def test_empty_partitions_never_committed(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 1.0)]).repartition(8)  # 7 empty task outputs
    write_iceberg_table(df, path)
    snap = read_iceberg_snapshot(path)
    assert snap.num_files == 1
    assert read_iceberg_table(spark, path).count() == 1


# ---------------------------------------------------------------------------
# spec-structural pins (writer checked against the PUBLIC spec, not the
# repo's own reader)


def test_metadata_json_spec_fields(spark, tmp_path):
    path = str(tmp_path / "t")
    sid = write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    md = _read_meta(path)
    assert md["format-version"] == 1
    for key in (
        "table-uuid",
        "location",
        "last-updated-ms",
        "last-column-id",
        "schema",
        "partition-spec",
        "current-snapshot-id",
        "snapshots",
    ):
        assert key in md, key
    assert md["current-snapshot-id"] == sid
    assert md["schema"]["type"] == "struct"
    names = [f["name"] for f in md["schema"]["fields"]]
    assert names == ["id", "cat", "v"]
    ids = [f["id"] for f in md["schema"]["fields"]]
    assert ids == sorted(set(ids))  # unique, assigned
    assert md["last-column-id"] == max(ids)
    snap = md["snapshots"][-1]
    assert snap["summary"]["operation"] == "append"
    assert os.path.exists(snap["manifest-list"])


def test_manifest_avro_spec_fields(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(7, "q", 3.5)]).coalesce(1), path)
    md = _read_meta(path)
    with open(md["snapshots"][-1]["manifest-list"], "rb") as f:
        manifests, list_schema = read_avro_bytes(f.read())
    lf = {x["name"] for x in list_schema["fields"]}
    assert {
        "manifest_path",
        "manifest_length",
        "partition_spec_id",
        "added_snapshot_id",
    } <= lf
    (m,) = manifests
    assert m["manifest_length"] == os.path.getsize(m["manifest_path"])
    with open(m["manifest_path"], "rb") as f:
        entries, entry_schema = read_avro_bytes(f.read())
    assert entry_schema["name"] == "manifest_entry"
    ef = {x["name"] for x in entry_schema["fields"]}
    assert {"status", "snapshot_id", "data_file"} <= ef
    (e,) = entries
    assert e["status"] == 1  # ADDED
    d = e["data_file"]
    assert d["file_format"] == "PARQUET"
    assert d["record_count"] == 1
    assert d["file_size_in_bytes"] == os.path.getsize(d["file_path"])


def test_bounds_match_pyarrow_footer_stats(spark, tmp_path):
    """Decoded manifest bounds == pyarrow's own min/max for every
    column — the independent statistics source."""
    path = str(tmp_path / "t")
    df = _df(spark, [(i, f"k{i % 5}", float(i) * 1.5 - 3) for i in range(50)])
    write_iceberg_table(df.coalesce(1), path)
    md = _read_meta(path)
    with open(md["snapshots"][-1]["manifest-list"], "rb") as f:
        manifests, _ = read_avro_bytes(f.read())
    with open(manifests[0]["manifest_path"], "rb") as f:
        (entry,), _ = read_avro_bytes(f.read())
    d = entry["data_file"]
    lowers = {x["key"]: x["value"] for x in d["lower_bounds"]}
    uppers = {x["key"]: x["value"] for x in d["upper_bounds"]}
    fid = {f["name"]: f["id"] for f in md["schema"]["fields"]}
    ftyp = {f["name"]: f["type"] for f in md["schema"]["fields"]}
    t = pq.read_table(d["file_path"])
    import pyarrow.compute as pc

    for col in ("id", "cat", "v"):
        lo = decode_bound(lowers[fid[col]], ftyp[col])
        hi = decode_bound(uppers[fid[col]], ftyp[col])
        assert lo == pc.min(t[col]).as_py(), col
        assert hi == pc.max(t[col]).as_py(), col


def test_encode_bound_appendix_d_literals():
    """Byte-level pins straight from spec Appendix D (little-endian
    fixed widths, UTF-8 strings) — independent of decode_bound."""
    assert encode_bound(1, "int") == b"\x01\x00\x00\x00"
    assert encode_bound(-1, "int") == b"\xff\xff\xff\xff"
    assert encode_bound(500, "long") == struct.pack("<q", 500)
    assert encode_bound(1.5, "double") == b"\x00\x00\x00\x00\x00\x00\xf8?"
    assert encode_bound(True, "boolean") == b"\x01"
    assert encode_bound(False, "boolean") == b"\x00"
    assert encode_bound("iceberg", "string") == b"iceberg"
    assert encode_bound("x" * 33, "string") is None  # too long to bound
    # decode inverts encode for every supported type
    for v, t in [(42, "int"), (7, "date"), (10**12, "long"),
                 (2.25, "double"), ("abc", "string"), (True, "boolean")]:
        assert decode_bound(encode_bound(v, t), t) == v


def test_date_timestamp_bound_domains(spark, tmp_path):
    """date bounds are days-since-epoch ints; timestamptz bounds are
    micros-since-epoch longs (spec value domains, not ISO strings)."""
    import datetime

    path = str(tmp_path / "t")
    rows = [
        (datetime.date(2020, 1, 1 + i),
         datetime.datetime(2020, 1, 1, 12, 0, i))
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "d date, ts timestamp")
    write_iceberg_table(df.coalesce(1), path)
    md = _read_meta(path)
    with open(md["snapshots"][-1]["manifest-list"], "rb") as f:
        manifests, _ = read_avro_bytes(f.read())
    with open(manifests[0]["manifest_path"], "rb") as f:
        (entry,), _ = read_avro_bytes(f.read())
    lowers = {x["key"]: x["value"] for x in entry["data_file"]["lower_bounds"]}
    fid = {f["name"]: f["id"] for f in md["schema"]["fields"]}
    assert decode_bound(lowers[fid["d"]], "date") == (
        datetime.date(2020, 1, 1) - datetime.date(1970, 1, 1)
    ).days
    # session timezone is UTC in tests: noon Jan 1 2020 in micros
    want_us = int(
        (datetime.datetime(2020, 1, 1, 12) - datetime.datetime(1970, 1, 1))
        .total_seconds()
    ) * 1_000_000
    assert decode_bound(lowers[fid["ts"]], "timestamptz") == want_us


def test_spark_to_iceberg_schema_nested_ids_unique():
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "m", T.MapType(T.StringType(), T.DoubleType())
            ),
            T.StructField(
                "s",
                T.StructType([T.StructField("inner", T.IntegerType())]),
            ),
        ]
    )
    js, last = spark_to_iceberg_schema(schema)

    seen = []

    def walk(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t["fields"]:
                    seen.append(f["id"])
                    walk(f["type"])
            elif t.get("type") == "list":
                seen.append(t["element-id"])
                walk(t["element"])
            elif t.get("type") == "map":
                seen.extend([t["key-id"], t["value-id"]])
                walk(t["value"])

    walk(js)
    assert len(seen) == len(set(seen))
    assert last == max(seen)


def test_short_and_byte_normalize_to_int_and_append(spark, tmp_path):
    """short/byte live outside Iceberg's type domain — the writer casts
    to int once, and the SAME DataFrame shape appends cleanly."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2)], "a short, b tinyint")
    write_iceberg_table(df, path)
    write_iceberg_table(df, path)  # append must not raise
    got = read_iceberg_table(spark, path)
    assert got.schema.simpleString() == "struct<a:int,b:int>"
    assert got.count() == 2


def test_txn_idempotent_commit_and_stream_sink(spark, tmp_path):
    """(txn-app-id, txn-version) in the snapshot summary gives the Delta
    txn contract: a replayed epoch is skipped before staging; the
    foreachBatch sink rides it for exactly-once streaming appends."""
    import ballista_spark.streaming as bss

    src = str(tmp_path / "src")
    _df(spark, [(i, "a", float(i)) for i in range(5)]).write.parquet(src)
    stream = spark.readStream.schema("id long, cat string, v double").parquet(src)
    table = str(tmp_path / "t")
    q = bss.write_stream_iceberg_exactly_once(
        stream, table, str(tmp_path / "ckpt"), app_id="stream-1"
    )
    q.awaitTermination(120)
    assert read_iceberg_table(spark, table).count() == 5
    # redelivery: same epoch id replayed straight through the writer —
    # returns the already-committed snapshot, appends nothing
    before = _read_meta(table)
    sid = write_iceberg_table(
        _df(spark, [(0, "a", 0.0)]), table, txn_app_id="stream-1", txn_version=0
    )
    assert sid == before["current-snapshot-id"]
    assert read_iceberg_table(spark, table).count() == 5
    assert _read_meta(table) == before  # no new metadata version either
    # a NEW epoch from the same app still commits
    write_iceberg_table(
        _df(spark, [(9, "z", 9.0)]), table, txn_app_id="stream-1", txn_version=1
    )
    assert read_iceberg_table(spark, table).count() == 6


def test_compaction_replace_snapshot(spark, tmp_path):
    """Small appended files bin-pack into one; the REPLACE snapshot
    carries survivors verbatim (status EXISTING, original bounds bytes)
    and rows are unchanged; older snapshots stay readable."""
    from ballista_spark.sources.iceberg import compact_iceberg_table

    path = str(tmp_path / "t")
    sids = []
    for lo in (0, 100, 200, 300):
        sids.append(
            write_iceberg_table(
                _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
                path,
            )
        )
    before = read_iceberg_snapshot(path)
    assert before.num_files == 4
    sc = compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    assert sc is not None
    after = read_iceberg_snapshot(path)
    assert after.num_files == 1
    got = read_iceberg_table(spark, path)
    assert got.count() == 40
    assert sorted(r["id"] for r in got.collect()) == sorted(
        list(range(0, 10)) + list(range(100, 110))
        + list(range(200, 210)) + list(range(300, 310))
    )
    # time travel to a pre-compaction snapshot still works
    assert read_iceberg_table(spark, path, snapshot_id=sids[1]).count() == 20
    # idempotent: nothing left to compact
    assert compact_iceberg_table(spark, path, target_file_bytes=1 << 30) is None
    md = _read_meta(path)
    assert md["snapshots"][-1]["summary"]["operation"] == "replace"


def test_compaction_clustered_tightens_bounds(spark, tmp_path):
    """cluster_by rewrite: interleaved appends (every file spans the
    whole id range) become range-sorted files whose bounds prune."""
    from ballista_spark.sources.iceberg import compact_iceberg_table

    path = str(tmp_path / "t")
    for _ in range(3):  # each append spans ids 0..299
        write_iceberg_table(
            _df(spark, [(i, "c", float(i)) for i in range(0, 300, 3)]).coalesce(1),
            path,
        )
    # interleaved: an id predicate prunes nothing
    snap = read_iceberg_snapshot(path)
    from ballista_spark.sources.iceberg import _bounds_may_match

    live = [
        f for f in snap.files
        if _bounds_may_match(f[2], "id", "<", 50)
    ]
    assert len(live) == 3
    compact_iceberg_table(
        spark, path, target_file_bytes=1 << 30, cluster_by=["id"]
    )
    # post-compaction the predicate reads everything via ONE file,
    # and row-level results are identical
    assert read_iceberg_table(spark, path, filters=[("id", "<", 50)]).where(
        "id < 50"
    ).count() == 3 * len(range(0, 50, 3))


def test_expire_snapshots_reaps_only_unreferenced(spark, tmp_path):
    """Expiry deletes files referenced ONLY by expired snapshots; files
    still live in the current snapshot survive (appends share data
    files across snapshots via carried manifests)."""
    from ballista_spark.sources.iceberg import (
        compact_iceberg_table,
        expire_iceberg_snapshots,
    )

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    # within retention: nothing deleted, all snapshots intact
    assert expire_iceberg_snapshots(path, retention_ms=10**12) == []
    assert len(_read_meta(path)["snapshots"]) == 3

    # zero retention, keep current only: old snapshots leave metadata,
    # but their data files are STILL referenced by the current snapshot
    # (append carries manifests forward) — nothing physical deleted
    deleted = expire_iceberg_snapshots(path, retention_ms=-1)
    md = _read_meta(path)
    assert len(md["snapshots"]) == 1
    assert all(not d.endswith(".parquet") or "data/" not in d for d in deleted)
    assert read_iceberg_table(spark, path).count() == 30

    # compaction replaces all three files; expiring the pre-compaction
    # snapshot now reaps the replaced data files
    assert compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    deleted = expire_iceberg_snapshots(path, retention_ms=-1)
    assert sum(1 for d in deleted if d.endswith(".parquet")) == 3
    assert read_iceberg_table(spark, path).count() == 30
    # expired snapshot ids are no longer reconstructable
    assert len(_read_meta(path)["snapshots"]) == 1


def test_expire_updates_metadata_by_exclusive_create(spark, tmp_path):
    from ballista_spark.sources.iceberg import expire_iceberg_snapshots

    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    write_iceberg_table(_df(spark, [(2, "b", 2.0)]), path)
    taken = _squat_next_version(path)
    squat = os.path.join(path, "metadata", f"v{taken}.metadata.json")
    with open(squat) as f:
        squatted = f.read()
    assert expire_iceberg_snapshots(path, retention_ms=-1)
    assert iceberg._load_metadata(path)[0] == taken + 1
    with open(squat) as f:
        assert f.read() == squatted  # the winner's version is untouched
    assert len(_read_meta(path)["snapshots"]) == 1
    assert [r[0] for r in _rows(spark, path)] == [1, 2]


def test_delete_copy_on_write_touch_only(spark, tmp_path):
    """DELETE rewrites ONLY the files whose bounds may match: untouched
    files' manifest records carry forward verbatim, matched rows
    vanish, NULL-predicate rows survive (SQL semantics), and a
    no-possible-match predicate commits nothing."""
    from ballista_spark.sources.iceberg import delete_from_iceberg_table

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        rows = [(lo + i, "c", float(i)) for i in range(10)]
        if lo == 100:
            rows.append((150, None, 5.0))  # NULL cat row in the 100-file
        write_iceberg_table(_df(spark, rows).coalesce(1), path)
    before = read_iceberg_snapshot(path)
    assert before.num_files == 3
    paths_before = {f[0] for f in before.files}

    # bounds prove nothing matches: no snapshot at all
    assert delete_from_iceberg_table(spark, path, [("id", ">=", 10_000)]) is None
    assert read_iceberg_snapshot(path).snapshot_id == before.snapshot_id

    # delete ids 100..104 where cat='c': only the middle file rewrites
    sid = delete_from_iceberg_table(
        spark, path, [("id", "<", 105), ("id", ">=", 100), ("cat", "=", "c")]
    )
    assert sid is not None
    after = read_iceberg_snapshot(path)
    kept_other = {f[0] for f in after.files} & paths_before
    assert len(kept_other) == 2  # the 0- and 200-files carried verbatim
    got = sorted(r["id"] for r in read_iceberg_table(spark, path).collect())
    want = sorted(
        [i for i in range(10)] + [i for i in range(105, 110)]
        + [150] + [i for i in range(200, 210)]
    )
    assert got == want  # 100-104 gone; NULL-cat row 150 KEPT
    # pre-delete snapshot still time-travels
    assert read_iceberg_table(
        spark, path, snapshot_id=before.snapshot_id
    ).count() == 31
    md = _read_meta(path)
    assert md["snapshots"][-1]["summary"]["operation"] == "delete"


def test_delete_whole_file_disappears(spark, tmp_path):
    from ballista_spark.sources.iceberg import delete_from_iceberg_table

    path = str(tmp_path / "t")
    for lo in (0, 100):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    delete_from_iceberg_table(spark, path, [("id", ">=", 100)])
    snap = read_iceberg_snapshot(path)
    assert snap.num_files == 1  # emptied file never re-added
    assert read_iceberg_table(spark, path).count() == 10


def test_unconditional_delete_refused(spark, tmp_path):
    from ballista_spark.sources.iceberg import delete_from_iceberg_table

    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    with pytest.raises(ValueError, match="unconditional"):
        delete_from_iceberg_table(spark, path, [])


# ---------------------------------------------------------------------------
# round-7 review-pass regressions


def test_expire_after_compaction_unions_refs_first(spark, tmp_path):
    """Expired append snapshots SHARE manifests (carried forward); the
    reap must union all expired refs before deleting anything — the
    per-snapshot variant crashed on the second snapshot and wedged
    expiry permanently."""
    from ballista_spark.sources.iceberg import (
        compact_iceberg_table,
        expire_iceberg_snapshots,
    )

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    assert compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    deleted = expire_iceberg_snapshots(path, retention_ms=-1)
    assert sum(1 for d in deleted if d.endswith(".parquet")) == 3
    assert read_iceberg_table(spark, path).count() == 30
    assert len(_read_meta(path)["snapshots"]) == 1
    # expiry stays runnable afterwards (nothing left, no crash)
    assert expire_iceberg_snapshots(path, retention_ms=-1) == []


def test_compaction_applies_positional_deletes(spark, tmp_path):
    """Compacting a MOR table rewrites EVERYTHING through the
    tombstone-applying reader: deleted rows stay gone, the replace
    snapshot carries no delete files, and the pyds face (which refuses
    MOR) works again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_spark.sources.iceberg import (
        _load_metadata,
        compact_iceberg_table,
        read_iceberg_snapshot,
    )
    from ballista_spark.sources.avroio import write_avro_bytes

    path = str(tmp_path / "t")
    write_iceberg_table(
        _df(spark, [(i, "c", float(i)) for i in range(10)]).coalesce(1), path
    )
    snap0 = read_iceberg_snapshot(path)
    f1 = snap0.files[0][0]
    # hand-write a positional delete (rows 0 and 3 of f1) + commit it
    ddir = os.path.join(path, "data")
    dpath = os.path.join(ddir, "del1.parquet")
    pq.write_table(
        pa.table(
            {"file_path": pa.array([f1, f1]), "pos": pa.array([0, 3], pa.int64())}
        ),
        dpath,
    )
    _, md = _load_metadata(path)
    from ballista_spark.sources.iceberg import _MANIFEST_FILE_SCHEMA

    mdir = os.path.join(path, "metadata")
    # the repo's v1 writer schema has no content field (it never writes
    # delete files) — a v2-style entry schema carries it explicitly
    del_entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
    del_entry = {
        "status": 1,
        "snapshot_id": None,
        "data_file": {
            "content": 1,
            "file_path": dpath,
            "file_format": "PARQUET",
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(dpath),
        },
    }
    mpath = os.path.join(mdir, "del-manifest.avro")
    with open(mpath, "wb") as f:
        f.write(write_avro_bytes([del_entry], del_entry_schema))
    cur = md["snapshots"][-1]
    with open(cur["manifest-list"], "rb") as f:
        from ballista_spark.sources.avroio import read_avro_bytes

        mans, _ = read_avro_bytes(f.read())
    lpath = os.path.join(mdir, "snap-del.avro")
    with open(lpath, "wb") as f:
        f.write(
            write_avro_bytes(
                mans
                + [
                    {
                        "manifest_path": mpath,
                        "manifest_length": os.path.getsize(mpath),
                        "partition_spec_id": 0,
                        "added_snapshot_id": 999,
                        "added_data_files_count": 0,
                        "existing_data_files_count": 0,
                        "deleted_data_files_count": 0,
                        "added_rows_count": 0,
                    }
                ],
                _MANIFEST_FILE_SCHEMA,
            )
        )
    snap = {
        "snapshot-id": 999,
        "timestamp-ms": cur["timestamp-ms"] + 1,
        "manifest-list": lpath,
        "summary": {"operation": "overwrite"},
    }
    md2 = dict(md)
    md2["current-snapshot-id"] = 999
    md2["snapshots"] = md["snapshots"] + [snap]
    md2["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": 999, "timestamp-ms": snap["timestamp-ms"]}
    ]
    with open(os.path.join(mdir, "v3.metadata.json"), "x") as f:
        json.dump(md2, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("3")

    # MOR read sees 8 rows; delete_from refuses; compaction applies
    assert read_iceberg_table(spark, path).count() == 8
    from ballista_spark.sources.iceberg import (
        IcebergFeatureError,
        delete_from_iceberg_table,
    )

    with pytest.raises(IcebergFeatureError, match="compact"):
        delete_from_iceberg_table(spark, path, [("id", "=", 5)])
    assert compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    post = read_iceberg_snapshot(path)
    assert post.delete_files == []
    got = sorted(r["id"] for r in read_iceberg_table(spark, path).collect())
    assert got == [1, 2] + list(range(4, 10))


def test_clustered_compaction_multiple_selective_files(spark, tmp_path):
    """cluster_by range-partitions ALL live rows into ceil(total/target)
    outputs — each covering a NARROW key range, so bounds prune even
    when the table does not fit one file (the FFD-bin-per-sort variant
    left every output spanning the full range)."""
    from ballista_spark.sources.iceberg import compact_iceberg_table

    path = str(tmp_path / "t")
    for _ in range(4):  # interleaved appends: each spans ids 0..2999
        write_iceberg_table(
            _df(spark, [(i, "c", float(i)) for i in range(0, 3000, 3)]).coalesce(1),
            path,
        )
    total = sum(
        os.path.getsize(f[0]) for f in read_iceberg_snapshot(path).files
    )
    target = total // 3  # force >= 3 clustered outputs
    compact_iceberg_table(spark, path, target_file_bytes=target, cluster_by=["id"])
    snap = read_iceberg_snapshot(path)
    assert snap.num_files >= 3
    from ballista_spark.sources.iceberg import _bounds_may_match

    matching = [
        f for f in snap.files if _bounds_may_match(f[2], "id", "<", 100)
    ]
    assert len(matching) == 1  # a narrow predicate now touches ONE file
    assert read_iceberg_table(spark, path).count() == 4000


def test_hintless_table_writes_and_compacts(spark, tmp_path):
    """version-hint.text is optional on read — it must be optional for
    every writer too (the glob fallback), and never discovered AFTER
    data has already been staged."""
    from ballista_spark.sources.iceberg import (
        compact_iceberg_table,
        delete_from_iceberg_table,
        expire_iceberg_snapshots,
    )

    path = str(tmp_path / "t")
    for lo in (0, 100):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    os.remove(os.path.join(path, "metadata", "version-hint.text"))
    assert compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    os.remove(os.path.join(path, "metadata", "version-hint.text"))
    assert delete_from_iceberg_table(spark, path, [("id", ">=", 100)])
    os.remove(os.path.join(path, "metadata", "version-hint.text"))
    assert expire_iceberg_snapshots(path, retention_ms=-1) != []
    os.remove(os.path.join(path, "metadata", "version-hint.text"))
    write_iceberg_table(_df(spark, [(999, "z", 9.0)]), path)
    assert sorted(r["id"] for r in read_iceberg_table(spark, path).collect()) == (
        list(range(10)) + [999]
    )


def test_merge_touch_only_update_and_insert(spark, tmp_path):
    """MERGE rewrites only the files the source keys touch; matched
    rows take the source values (SCD-1), unmatched source rows insert,
    untouched files carry forward verbatim."""
    from ballista_spark.sources.iceberg import merge_iceberg_table

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    before = read_iceberg_snapshot(path)
    paths_before = {f[0] for f in before.files}
    src = _df(spark, [(100, "UPD", -1.0), (101, "UPD", -2.0), (999, "NEW", 9.0)])
    sid = merge_iceberg_table(spark, path, src, on=["id"])
    assert sid is not None
    after = read_iceberg_snapshot(path)
    assert len({f[0] for f in after.files} & paths_before) == 2  # 0/200 carried
    got = {r["id"]: (r["cat"], r["v"]) for r in
           read_iceberg_table(spark, path).collect()}
    assert len(got) == 31
    assert got[100] == ("UPD", -1.0) and got[101] == ("UPD", -2.0)
    assert got[999] == ("NEW", 9.0)
    assert got[105] == ("c", 5.0)  # same-file unmatched rows kept
    # time travel to the pre-merge snapshot
    assert read_iceberg_table(
        spark, path, snapshot_id=before.snapshot_id
    ).count() == 30
    assert _read_meta(path)["snapshots"][-1]["summary"]["operation"] == "overwrite"


def test_merge_delete_mode_and_noop(spark, tmp_path):
    from ballista_spark.sources.iceberg import merge_iceberg_table

    path = str(tmp_path / "t")
    write_iceberg_table(
        _df(spark, [(i, "c", float(i)) for i in range(10)]).coalesce(1), path
    )
    src = _df(spark, [(3, "x", 0.0), (7, "x", 0.0)])
    merge_iceberg_table(
        spark, path, src, on=["id"], when_matched="delete",
        insert_not_matched=False,
    )
    got = sorted(r["id"] for r in read_iceberg_table(spark, path).collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]
    # no-op: keys that bounds prove absent, inserts disabled
    assert (
        merge_iceberg_table(
            spark, path,
            _df(spark, [(10_000, "x", 0.0)]),
            on=["id"], insert_not_matched=False,
        )
        is None
    )


def test_merge_stream_refuses_merge_snapshot(spark, tmp_path):
    """A merge changes rows — the streaming face must refuse its
    overwrite snapshot rather than deliver partial adds."""
    from ballista_spark.sources.iceberg import merge_iceberg_table
    from ballista_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a", 1.0)]), path)
    q = (
        spark.readStream.format("ballista_iceberg")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    merge_iceberg_table(spark, path, _df(spark, [(1, "b", 2.0)]), on=["id"])
    q2 = (
        spark.readStream.format("ballista_iceberg")
        .option("path", path)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="retraction|STREAM"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()


# ---------------------------------------------------------------------------
# every writer commits at the metadata version it READ and, on a lost
# race, re-reads, validates against the winner and retries — races made
# deterministic: the racer commits inside the victim's own metadata read
# or commit call (one wrapped call; no threads, no sleeps)

_RACER_ROWS = [(100 + i, "r", 0.0) for i in range(5)]


def _rows(spark, path, snapshot_id=None):
    return sorted(
        map(tuple, read_iceberg_table(spark, path, snapshot_id).collect())
    )


def _race(monkeypatch, name, winner):
    """Run ``winner()`` inside the next call of ``iceberg.<name>``."""
    real = getattr(iceberg, name)

    def once(*args, **kwargs):
        monkeypatch.setattr(iceberg, name, real)
        if name == "_load_metadata":  # the victim reads first
            got = real(*args, **kwargs)
            winner()
            return got
        winner()
        return real(*args, **kwargs)

    monkeypatch.setattr(iceberg, name, once)
    return real


def _two_file_table(spark, path):
    """ids 0..4 in one file, 5..9 in another (two small files, so
    OPTIMIZE has a bin to pack); returns the rows."""
    for lo in (0, 5):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(5)]).coalesce(1),
            path,
        )
    return _rows(spark, path)


def _unreferenced_metadata_files(path):
    """Manifest lists and manifests under ``metadata/`` that no snapshot
    of any ``vN.metadata.json`` reads."""
    meta = os.path.join(path, "metadata")
    listed = set()
    for name in glob.glob(os.path.join(meta, "v*.metadata.json")):
        with open(name) as f:
            for s in json.load(f).get("snapshots") or []:
                listed.add(s["manifest-list"])
                if os.path.exists(s["manifest-list"]):  # not yet expired
                    with open(s["manifest-list"], "rb") as f2:
                        mans = read_avro_bytes(f2.read())[0]
                    listed |= {m["manifest_path"] for m in mans}
    return sorted(set(glob.glob(os.path.join(meta, "*.avro"))) - listed)


def _without(i):
    return lambda rows: [r for r in rows if r[0] != i]


#: victim → (its call on the two-file table, its effect on the rows)
_RACE_VICTIMS = {
    "append": (
        lambda spark, path: write_iceberg_table(_df(spark, [(50, "w", 1.0)]), path),
        lambda rows: sorted(rows + [(50, "w", 1.0)]),
    ),
    "cow_delete": (
        lambda spark, path: iceberg.delete_from_iceberg_table(
            spark, path, [("id", "=", 3)]
        ),
        _without(3),
    ),
    "position_delete": (
        lambda spark, path: iceberg.delete_from_iceberg_table(
            spark, path, [("id", "=", 3)], use_position_deletes=True
        ),
        _without(3),
    ),
    "update": (
        lambda spark, path: iceberg.update_iceberg_table(
            spark, path, {"v": "v + 1"}, [("id", "=", 3)]
        ),
        lambda rows: [(i, c, v + 1 if i == 3 else v) for i, c, v in rows],
    ),
    "merge": (
        lambda spark, path: iceberg.merge_iceberg_table(
            spark, path, _df(spark, [(3, "m", 9.0), (60, "m", 9.0)]), ["id"]
        ),
        lambda rows: sorted(_without(3)(rows) + [(3, "m", 9.0), (60, "m", 9.0)]),
    ),
    "optimize": (
        lambda spark, path: iceberg.compact_iceberg_table(
            spark, path, target_file_bytes=1 << 30
        ),
        lambda rows: rows,
    ),
    "set_properties": (
        lambda spark, path: iceberg.set_iceberg_table_properties(
            path, {"k": "v"}
        ),
        lambda rows: rows,
    ),
    "alter_add_column": (
        lambda spark, path: iceberg.alter_iceberg_table(
            path, add_columns={"extra": "int"}
        ),
        lambda rows: [r + (None,) for r in rows],
    ),
    "rename_column": (
        lambda spark, path: iceberg.rename_iceberg_column(
            path, "cat", "category", spark=spark
        ),
        lambda rows: rows,
    ),
}


@pytest.mark.parametrize("victim", list(_RACE_VICTIMS))
def test_writer_racing_append_after_its_read_raises(
    spark, tmp_path, monkeypatch, caplog, victim
):
    """A 5-row blind append commits right after the victim's metadata
    read.  The append removes nothing, so the victim's first attempt
    loses, it rebuilds on the append and commits on top at its second
    attempt: the victim's effect and the racer's rows are both visible,
    and the losing attempt leaves no manifest behind."""
    path = str(tmp_path / "t")
    base = _two_file_table(spark, path)
    op, effect = _RACE_VICTIMS[victim]
    real = _race(monkeypatch, "_load_metadata", lambda: write_iceberg_table(
        _df(spark, _RACER_ROWS).coalesce(1), path
    ))
    caplog.set_level("INFO", logger="ballista_spark.commit")
    assert op(spark, path) is not None
    assert iceberg._load_metadata is real  # the race actually ran
    (record,) = [
        r for r in caplog.records
        if r.name == "ballista_spark.commit" and r.attempts > 1
    ]
    assert (record.format, record.attempts, record.outcome) == (
        "iceberg", 2, "committed"
    )
    assert iceberg._load_metadata(path)[0] == 4  # 2 writes, racer, victim
    assert _rows(spark, path) == effect(sorted(base + _RACER_ROWS))
    assert _unreferenced_metadata_files(path) == []


#: winner → (its call, its effect on the rows); both remove the file
#: holding ids 0..4, which every row-level victim reads
_INPUT_REMOVERS = {
    "cow_delete": (
        lambda spark, path: iceberg.delete_from_iceberg_table(
            spark, path, [("id", "=", 0)]
        ),
        _without(0),
    ),
    "optimize": _RACE_VICTIMS["optimize"],
}


@pytest.mark.parametrize("winner", list(_INPUT_REMOVERS))
@pytest.mark.parametrize(
    "victim", ["cow_delete", "position_delete", "update", "merge", "optimize"]
)
def test_race_on_removed_input_raises(spark, tmp_path, monkeypatch, victim, winner):
    """The winner rewrites a file the victim read, so the victim raises
    and the table is exactly the winner's."""
    path = str(tmp_path / "t")
    base = _two_file_table(spark, path)
    win, effect = _INPUT_REMOVERS[winner]
    _race(monkeypatch, "_load_metadata", lambda: win(spark, path))
    with pytest.raises(occ.ConcurrentCommitError, match="removed"):
        _RACE_VICTIMS[victim][0](spark, path)
    assert iceberg._load_metadata(path)[0] == 3
    assert _rows(spark, path) == effect(base)
    assert _unreferenced_metadata_files(path) == []


def test_expire_losing_commit_race_deletes_nothing(
    spark, tmp_path, monkeypatch
):
    """An append wins the metadata version expiry read: the losing
    attempt deletes nothing; expiry re-plans on the winner's metadata
    and commits, keeping the racer's snapshot and deleting no file the
    racer's snapshot or any listed snapshot reads."""
    path = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_iceberg_table(
            _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1),
            path,
        )
    # the replace snapshot leaves the three appended files reapable
    assert iceberg.compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    before = {
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    }
    real = _race(monkeypatch, "_commit_metadata", lambda: write_iceberg_table(
        _df(spark, _RACER_ROWS).coalesce(1), path
    ))
    deleted = iceberg.expire_iceberg_snapshots(path, retention_ms=-1)
    assert iceberg._commit_metadata is real  # the race actually ran
    assert sum(d.endswith(".parquet") for d in deleted) == 3
    md = _read_meta(path)
    assert len(md["snapshots"]) == 1  # the racer's, now current
    assert md["snapshots"][0]["summary"]["added-records"] == "5"
    gone = {p for p in before if not os.path.exists(p)}
    read = {
        os.path.normpath(f[0])
        for f in read_iceberg_snapshot(path, md["current-snapshot-id"]).files
    }
    assert not gone & read
    assert len(_rows(spark, path)) == 35
    assert _unreferenced_metadata_files(path) == []


def test_v2_sequence_number_on_every_snapshot(spark, tmp_path):
    """From the first position delete (the v2 upgrade) onward, EVERY
    snapshot kind — replace, overwrite, copy-on-write delete, merge,
    append — takes the next sequence number, and its new manifest
    carries the same number (spec: a v2 snapshot always has one)."""
    path = str(tmp_path / "t")
    write_iceberg_table(
        _df(spark, [(i, "c", float(i)) for i in range(20)]).coalesce(2), path
    )
    assert iceberg.delete_from_iceberg_table(
        spark, path, [("id", "=", 3)], use_position_deletes=True
    )
    assert iceberg.compact_iceberg_table(spark, path, target_file_bytes=1 << 30)
    assert iceberg.update_iceberg_table(
        spark, path, {"v": "v + 100"}, [("id", "=", 5)]
    )
    assert iceberg.delete_from_iceberg_table(
        spark, path, [("id", "=", 7)], use_position_deletes=False
    )
    iceberg.merge_iceberg_table(
        spark, path, _df(spark, [(3, "m", 3.0), (5, "m", 5.0)]), ["id"]
    )
    write_iceberg_table(_df(spark, [(7, "a", 7.0)]), path)

    md = _read_meta(path)
    snaps = md["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == [
        "append", "delete", "replace", "overwrite", "delete", "overwrite",
        "append",
    ]
    assert md["format-version"] == 2
    seqs = [s.get("sequence-number") for s in snaps[1:]]
    assert None not in seqs
    assert all(a < b for a, b in zip(seqs, seqs[1:]))
    for s in snaps[1:]:
        with open(s["manifest-list"], "rb") as f:
            mans, _ = read_avro_bytes(f.read())
        new = [m for m in mans if m["added_snapshot_id"] == s["snapshot-id"]]
        assert new
        assert all(m["sequence_number"] == s["sequence-number"] for m in new)
    assert md["last-sequence-number"] == snaps[-1]["sequence-number"]
    assert [r[0] for r in _rows(spark, path)] == list(range(20))


def _new_manifest_counts(path):
    """(added, existing, deleted) data-file counts of the current
    snapshot's new manifest, and the snapshot summary."""
    snap = _read_meta(path)["snapshots"][-1]
    with open(snap["manifest-list"], "rb") as f:
        (m,) = read_avro_bytes(f.read())[0]
    counts = tuple(
        m[f"{k}_data_files_count"] for k in ("added", "existing", "deleted")
    )
    return counts, snap["summary"]


@pytest.mark.parametrize("racer_files", [0, 1])
def test_overwrite_counts_the_files_it_drops(
    spark, tmp_path, monkeypatch, racer_files
):
    """An overwrite of the two-file table records both dropped files in
    its manifest list and summary; when a one-file append wins the race
    after the overwrite's read, the overwrite rebases onto it and drops
    that file too."""
    path = str(tmp_path / "t")
    _two_file_table(spark, path)
    if racer_files:
        _race(monkeypatch, "_load_metadata", lambda: write_iceberg_table(
            _df(spark, _RACER_ROWS).coalesce(1), path
        ))
    write_iceberg_table(
        _df(spark, [(99, "z", 9.0)]).coalesce(1), path, mode="overwrite"
    )
    counts, summary = _new_manifest_counts(path)
    assert counts == (1, 0, 2 + racer_files)
    assert summary["deleted-data-files"] == str(2 + racer_files)
    assert _rows(spark, path) == [(99, "z", 9.0)]
