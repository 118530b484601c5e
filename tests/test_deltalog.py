"""Delta-protocol table source: log reconstruction, time travel,
checkpoints, stats-based file skipping, atomic commits, compaction.

Everything here runs against tables written by OUR writer and verified
by OUR reader — plus structural assertions pinning the on-disk layout
to the public Delta protocol shapes (00000000000000000000.json lines,
add/remove/metaData/protocol actions, _last_checkpoint), so a real
delta-spark reader would see a conformant subset table.
"""

from __future__ import annotations

import json
import os

import pytest

from ballista_spark.sources.deltalog import (
    DeltaConcurrentCommitError,
    compact_delta_table,
    read_delta_snapshot,
    read_delta_table,
    write_delta_table,
)
from ballista_spark.sources.rewrite import plan_compaction_bins


def _df(spark, rows, schema="id long, cat string, v double"):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_roundtrip_append_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    d1 = _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    d2 = _df(spark, [(3, "a", 3.0)])
    v0 = write_delta_table(d1, path)
    v1 = write_delta_table(d2, path)
    assert (v0, v1) == (0, 1)
    assert _rows(read_delta_table(spark, path)) == _rows(d1.unionAll(d2))
    assert _rows(read_delta_table(spark, path, version=0)) == _rows(d1)
    # protocol-shape pins: zero-padded commit names, first commit carries
    # protocol + metaData, schemaString is Spark schema JSON
    log = sorted(os.listdir(os.path.join(path, "_delta_log")))
    assert log[0] == "00000000000000000000.json"
    lines = [
        json.loads(x)
        for x in open(os.path.join(path, "_delta_log", log[0]))
        if x.strip()
    ]
    kinds = [next(iter(a)) for a in lines]
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    md = next(a["metaData"] for a in lines if "metaData" in a)
    assert json.loads(md["schemaString"])["type"] == "struct"


def test_overwrite_removes_previous_files(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    write_delta_table(_df(spark, [(9, "z", 9.0)]), path, mode="overwrite")
    assert _rows(read_delta_table(spark, path)) == [(9, "z", 9.0)]
    # old version still readable (files are logically removed, not deleted)
    assert _rows(read_delta_table(spark, path, version=0)) == [(1, "a", 1.0)]
    snap = read_delta_snapshot(path)
    assert snap.num_files >= 1
    assert all("z" not in f.path or True for f in snap.files)  # structural only


def test_partitioned_write_prune_and_types(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(
        spark,
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(10)],
    )
    write_delta_table(df, path, partition_by=["cat"])
    out = read_delta_table(spark, path)
    assert dict(out.dtypes)["cat"] == "string"
    assert _rows(out) == _rows(df)
    # partition-value file skipping: only the even files survive
    snap = read_delta_snapshot(path)
    pruned = read_delta_table(spark, path, filters=[("cat", "=", "even")])
    assert _rows(pruned) == _rows(df.where("cat = 'even'"))
    evens = [f for f in snap.files if f.partition_values["cat"] == "even"]
    assert 0 < len(evens) < snap.num_files


def test_stats_file_skipping_is_proof_based(spark, tmp_path):
    path = str(tmp_path / "t")
    # three single-file commits with disjoint id ranges
    for lo in (0, 100, 200):
        d = _df(spark, [(lo + i, "c", float(i)) for i in range(10)]).coalesce(1)
        write_delta_table(d, path)
    snap = read_delta_snapshot(path)
    assert snap.num_files == 3
    assert all(f.stats and "minValues" in f.stats for f in snap.files)

    from ballista_spark.sources.deltalog import _prune_files

    s = _prune_files(read_delta_snapshot(path), [("id", ">=", 200)])
    assert s.num_files == 1 and s.files_pruned == 2
    s = _prune_files(read_delta_snapshot(path), [("id", "<", 5)])
    assert s.num_files == 1
    s = _prune_files(read_delta_snapshot(path), [("id", "=", 105)])
    assert s.num_files == 1
    # proof-based: a column with no stats never prunes
    s = _prune_files(read_delta_snapshot(path), [("nosuch", "=", 1)])
    assert s.num_files == 3
    # correctness with the residual filter applied
    got = read_delta_table(spark, path, filters=[("id", ">=", 200)]).where(
        "id >= 200"
    )
    assert got.count() == 10


def test_string_stats_truncation_guard():
    from ballista_spark.sources.deltalog import _AddFile, _file_may_match

    long_max = "z" * 32  # looks truncated — cannot prove an upper bound
    f = _AddFile(
        path="p",
        partition_values={},
        size=1,
        stats={"minValues": {"s": "aaa"}, "maxValues": {"s": long_max}},
    )
    assert _file_may_match(f, "s", ">", "zzzzzz")  # kept: max untrusted
    f2 = _AddFile(
        path="p",
        partition_values={},
        size=1,
        stats={"minValues": {"s": "aaa"}, "maxValues": {"s": "mmm"}},
    )
    assert not _file_may_match(f2, "s", ">", "zzz")  # short max: provable


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(12):  # checkpoint_interval=10 → checkpoint at v10
        write_delta_table(
            _df(spark, [(i, "c", float(i))]), path, checkpoint_interval=10
        )
    logdir = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(logdir, "_last_checkpoint"))
    assert any(n.endswith(".checkpoint.parquet") for n in os.listdir(logdir))
    # the checkpoint must make early JSON commits unnecessary
    for v in range(10):
        os.remove(os.path.join(logdir, f"{v:020d}.json"))
    got = read_delta_table(spark, path)
    assert got.count() == 12
    assert _rows(got.select("id")) == [(i,) for i in range(12)]


def test_commit_is_exclusive_create(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    from ballista_spark.sources.deltalog import _attempt_commit

    with pytest.raises(FileExistsError):
        _attempt_commit(path, 0, [{"commitInfo": {}}])
    # append writer retries past a squatted version instead of failing
    squat = os.path.join(path, "_delta_log", f"{1:020d}.json")
    with open(squat, "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
    v = write_delta_table(_df(spark, [(2, "b", 2.0)]), path)
    assert v == 2
    assert _rows(read_delta_table(spark, path).select("id")) == [(1,), (2,)]


def test_plan_compaction_bins_pure():
    # 6 small files at 10 each, target 25 → bins of ≤25, no singletons
    bins = plan_compaction_bins([10] * 6, 25)
    assert sorted(len(b) for b in bins) == [2, 2, 2]
    covered = sorted(i for b in bins for i in b)
    assert covered == list(range(6))
    # big files never rewritten; a lone small file is a no-op (no bin)
    assert plan_compaction_bins([100, 100, 10], 50) == []
    assert plan_compaction_bins([], 50) == []
    bins = plan_compaction_bins([30, 10, 10, 10], 35)
    assert all(sum([30, 10, 10, 10][i] for i in b) <= 35 for b in bins)


def test_compact_delta_table_transactional(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(6):  # six tiny single-file commits
        write_delta_table(
            _df(spark, [(i, "even" if i % 2 == 0 else "odd", float(i))]).coalesce(1),
            path,
            partition_by=["cat"],
        )
    before = read_delta_snapshot(path)
    v = compact_delta_table(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert v == 6
    after = read_delta_snapshot(path)
    assert after.num_files < before.num_files
    assert after.num_files == 2  # one compacted file per partition
    # rows unchanged, and every pre-compaction version still readable
    assert _rows(read_delta_table(spark, path).select("id")) == [
        (i,) for i in range(6)
    ]
    assert read_delta_table(spark, path, version=3).count() == 4
    # idempotent: nothing left to compact
    assert compact_delta_table(spark, path, 64 * 1024 * 1024) is None


def test_read_rejects_future_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    # bump the table's minReaderVersion beyond this subset
    cp = os.path.join(path, "_delta_log", f"{1:020d}.json")
    with open(cp, "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3}}) + "\n")
    from ballista_spark.sources.deltalog import DeltaProtocolError

    with pytest.raises(DeltaProtocolError):
        read_delta_snapshot(path)


def test_empty_snapshot_reads_empty_frame(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    write_delta_table(
        _df(spark, []).limit(0), path, mode="overwrite"
    )
    out = read_delta_table(spark, path)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "cat", "v"]


def test_scan_plan_is_single_parquet_scan(spark, tmp_path):
    """Scale pin: a hive-layout snapshot must read as ONE parquet scan
    (no per-file or per-partition unions) with filters pushed down."""
    path = str(tmp_path / "t")
    df = _df(
        spark,
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(40)],
    )
    write_delta_table(df, path, partition_by=["cat"])
    out = read_delta_table(spark, path).where("id > 5")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan
    assert "PushedFilters: [" in plan and "GreaterThan(id,5)" in plan


def test_txn_action_makes_commits_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    d = _df(spark, [(1, "a", 1.0)])
    v = write_delta_table(d, path, txn_app_id="job-7", txn_version=0)
    assert v == 0
    # replaying the same (app, version) is a no-op
    assert write_delta_table(d, path, txn_app_id="job-7", txn_version=0) is None
    assert read_delta_table(spark, path).count() == 1
    # the next version commits; a different app is independent
    assert write_delta_table(d, path, txn_app_id="job-7", txn_version=1) == 1
    assert write_delta_table(d, path, txn_app_id="job-8", txn_version=0) == 2
    assert read_delta_table(spark, path).count() == 3
    snap = read_delta_snapshot(path)
    assert snap.app_versions == {"job-7": 1, "job-8": 0}


def test_txn_state_survives_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(11):  # crosses the checkpoint_interval=10 boundary
        write_delta_table(
            _df(spark, [(i, "c", 0.0)]),
            path,
            checkpoint_interval=10,
            txn_app_id="app",
            txn_version=i,
        )
    logdir = os.path.join(path, "_delta_log")
    for v in range(10):
        os.remove(os.path.join(logdir, f"{v:020d}.json"))
    # idempotence info must come from the checkpoint now
    assert read_delta_snapshot(path).app_versions == {"app": 10}
    assert (
        write_delta_table(
            _df(spark, [(99, "z", 9.0)]), path, txn_app_id="app", txn_version=5
        )
        is None
    )


def test_stream_delta_sink_exactly_once(spark, tmp_path):
    """foreachBatch → delta appends; a manual replay of the same epoch
    (the redelivery case) does not double-append."""
    import ballista_spark.streaming as bss

    src = str(tmp_path / "src")
    _df(spark, [(i, "a", float(i)) for i in range(5)]).write.parquet(src)
    stream = spark.readStream.schema("id long, cat string, v double").parquet(src)
    table = str(tmp_path / "t")
    q = bss.write_stream_delta_exactly_once(
        stream, table, str(tmp_path / "ckpt"), app_id="stream-1"
    )
    q.awaitTermination(120)
    out = read_delta_table(spark, table)
    assert out.count() == 5
    # redelivery: same epoch id replayed straight through the writer
    write_delta_table(
        _df(spark, [(0, "a", 0.0)]),
        table,
        txn_app_id="stream-1",
        txn_version=0,
    )
    assert read_delta_table(spark, table).count() == 5


def test_vacuum_reaps_tombstones_and_orphans(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    write_delta_table(_df(spark, [(2, "b", 2.0)]), path, mode="overwrite")
    from ballista_spark.sources.deltalog import _now_ms, vacuum_delta_table

    # an orphan from a "crashed writer"
    orphan = os.path.join(path, "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1garbagePAR1")
    # within retention: nothing deleted, time travel intact
    assert vacuum_delta_table(path, retention_ms=10**12) == []
    assert read_delta_table(spark, path, version=0).count() == 1
    # zero retention: tombstoned v0 file + orphan reaped, snapshot intact
    deleted = vacuum_delta_table(path, retention_ms=-1)
    assert len(deleted) == 2 and "part-orphan.parquet" in deleted
    assert _rows(read_delta_table(spark, path)) == [(2, "b", 2.0)]
    assert not os.path.exists(orphan)


def test_clustered_compaction_tightens_file_skipping(spark, tmp_path):
    """cluster_by rewrite: interleaved appends (every file spans the
    whole id range → nothing prunable) become range-sorted files where
    an id predicate skips all but one file."""
    from ballista_spark.sources.deltalog import _prune_files

    path = str(tmp_path / "t")
    for k in range(4):  # round-robin ids: every file sees 0..399
        d = _df(
            spark, [(i, "c", float(i)) for i in range(k, 400, 4)]
        ).coalesce(1)
        write_delta_table(d, path)
    before = _prune_files(read_delta_snapshot(path), [("id", "<", 100)])
    assert before.files_pruned == 0  # interleaved: stats can't skip
    total = sum(f.size for f in read_delta_snapshot(path).files)
    v = compact_delta_table(
        spark, path, target_file_bytes=total // 4 + 1, cluster_by=["id"]
    )
    assert v is not None
    after_snap = read_delta_snapshot(path)
    assert 2 <= after_snap.num_files <= 6
    after = _prune_files(read_delta_snapshot(path), [("id", "<", 100)])
    assert after.files_pruned >= after_snap.num_files - 2
    got = read_delta_table(spark, path, filters=[("id", "<", 100)]).where(
        "id < 100"
    )
    assert got.count() == 100
    assert read_delta_table(spark, path).count() == 400


def test_merge_updates_inserts_and_preserves_untouched_files(spark, tmp_path):
    from ballista_spark.sources.deltalog import merge_delta_table

    path = str(tmp_path / "t")
    # three files with disjoint id ranges (stats pre-prune has teeth)
    for lo in (0, 100, 200):
        write_delta_table(
            _df(spark, [(lo + i, "c", float(lo + i)) for i in range(10)]).coalesce(1),
            path,
        )
    before = {f.path for f in read_delta_snapshot(path).files}
    src = _df(spark, [(5, "UPD", -5.0), (205, "UPD", -205.0), (999, "NEW", 9.0)])
    v = merge_delta_table(spark, path, src, on=["id"])
    assert v == 3
    out = {r["id"]: (r["cat"], r["v"]) for r in read_delta_table(spark, path).collect()}
    assert len(out) == 31  # 30 original keys + 1 insert
    assert out[5] == ("UPD", -5.0) and out[205] == ("UPD", -205.0)
    assert out[999] == ("NEW", 9.0)
    assert out[6] == ("c", 6.0)  # untouched row intact
    after = {f.path for f in read_delta_snapshot(path).files}
    # the id=100..109 file matched no source key: same physical file
    assert len(before & after) == 1
    # pre-merge version still reads the original rows
    old = {r["id"]: r["cat"] for r in read_delta_table(spark, path, version=2).collect()}
    assert old[5] == "c" and 999 not in old


def test_merge_delete_matched(spark, tmp_path):
    from ballista_spark.sources.deltalog import merge_delta_table

    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(i, "c", float(i)) for i in range(10)]), path)
    src = spark.createDataFrame([(3,), (7,), (42,)], "id long")
    v = merge_delta_table(
        spark, path, src, on=["id"], when_matched="delete",
        insert_not_matched=False,
    )
    assert v == 1
    got = sorted(r["id"] for r in read_delta_table(spark, path).collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]


def test_merge_all_inserts_and_noop(spark, tmp_path):
    from ballista_spark.sources.deltalog import merge_delta_table

    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    # disjoint keys: pure insert
    v = merge_delta_table(spark, path, _df(spark, [(50, "n", 5.0)]), on=["id"])
    assert v == 1
    assert read_delta_table(spark, path).count() == 2
    # delete-matched with nothing matching: no-op, no commit
    src = spark.createDataFrame([(777,)], "id long")
    assert (
        merge_delta_table(
            spark, path, src, on=["id"], when_matched="delete",
            insert_not_matched=False,
        )
        is None
    )
    assert read_delta_snapshot(path).version == 1


def test_merge_partitioned_table_keeps_layout(spark, tmp_path):
    from ballista_spark.sources.deltalog import merge_delta_table

    path = str(tmp_path / "t")
    df = _df(spark, [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(8)])
    write_delta_table(df, path, partition_by=["cat"])
    src = _df(spark, [(2, "even", -2.0), (11, "odd", 11.0)])
    merge_delta_table(spark, path, src, on=["id"])
    out = read_delta_table(spark, path)
    assert out.count() == 9
    assert out.where("id = 2").collect()[0]["v"] == -2.0
    # layout still hive-style: partition filters keep pruning
    snap = read_delta_snapshot(path)
    assert all("cat=" in f.path for f in snap.files)
    assert read_delta_table(
        spark, path, filters=[("cat", "=", "odd")]
    ).where("cat = 'odd'").count() == 5


def test_merge_schema_mismatch_raises(spark, tmp_path):
    from ballista_spark.sources.deltalog import merge_delta_table

    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    bad = spark.createDataFrame([(1, "x")], "id long, cat string")
    with pytest.raises(ValueError, match="schema"):
        merge_delta_table(spark, path, bad, on=["id"])


def test_read_delta_changes_incremental(spark, tmp_path):
    from ballista_spark.sources.deltalog import read_delta_changes

    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)          # v0
    write_delta_table(_df(spark, [(2, "b", 2.0)]), path)          # v1
    compact_delta_table(spark, path, target_file_bytes=1 << 30)   # v2 (no dataChange)
    write_delta_table(_df(spark, [(3, "c", 3.0)]), path)          # v3
    ch = read_delta_changes(spark, path, from_version=0)
    got = sorted((r["id"], r["_commit_version"]) for r in ch.collect())
    # v0 excluded (from_version is exclusive), compaction invisible
    assert got == [(2, 1), (3, 3)]
    assert read_delta_changes(spark, path, from_version=1, to_version=1).count() == 0
    # full history from "before the table existed"
    assert read_delta_changes(spark, path, from_version=-1).count() == 3


def test_create_external_table_delta_and_iceberg(spark, tmp_path):
    """DDL surface: CREATE EXTERNAL TABLE over both lakehouse formats,
    queryable through SQL (incl. time travel via the version option)."""
    from ballista_spark.context import BallistaContext

    dt = str(tmp_path / "dt")
    write_delta_table(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]), dt)
    write_delta_table(_df(spark, [(3, "c", 3.0)]), dt)
    ctx = BallistaContext(spark)
    ctx.create_external_table("docs_delta", dt, file_type="delta")
    assert ctx.sql("SELECT COUNT(*) AS n FROM docs_delta").collect()[0]["n"] == 3
    ctx.create_external_table("docs_delta_v0", dt, file_type="delta", version=0)
    assert (
        ctx.sql("SELECT COUNT(*) AS n FROM docs_delta_v0").collect()[0]["n"]
        == 2
    )

    from tests.test_iceberg import _commit_snapshot, _write_data_file

    ice = str(tmp_path / "ice")
    e = _write_data_file(ice, "f1.parquet", [(1, "a", 1.0), (2, "b", 2.0)])
    _commit_snapshot(ice, 9, [e], version=1)
    ctx.create_external_table("docs_ice", ice, file_type="iceberg")
    assert ctx.sql("SELECT SUM(id) AS s FROM docs_ice").collect()[0]["s"] == 3


def test_lazy_stats_and_checkpoint_cache_consistency(spark, tmp_path):
    """Round 9: _AddFile parses stats lazily from the log's raw JSON
    and checkpoint decodes cache by (path, size, mtime) — repeated
    snapshot resolutions stay identical and mutations are never served
    stale."""
    from ballista_spark.sources.deltalog import (
        _AddFile,
        delete_from_delta_table,
        read_delta_snapshot,
        read_delta_table,
        write_delta_table,
    )

    # lazy parse + raw passthrough
    f = _AddFile("p", {}, 1, stats='{"numRecords": 7, "minValues": {"x": 1}}')
    assert f.stats_json() == '{"numRecords": 7, "minValues": {"x": 1}}'
    assert f.stats["numRecords"] == 7
    f2 = _AddFile("p", {}, 1, stats="not json")
    assert f2.stats is None

    table = str(tmp_path / "t")
    for i in range(12):  # checkpoint_interval=10 -> checkpoint at v10
        write_delta_table(
            spark.createDataFrame([(i, float(i))], "id long, v double"),
            table,
        )
    s1 = read_delta_snapshot(table)
    s2 = read_delta_snapshot(table)  # second resolve: cached checkpoint
    assert [f.path for f in s1.files] == [f.path for f in s2.files]
    assert [f.stats for f in s1.files] == [f.stats for f in s2.files]
    # a mutation after the checkpoint is visible immediately (the JSON
    # tail replays over the cached checkpoint actions)
    delete_from_delta_table(spark, table, [("id", "<", 3)])
    assert read_delta_table(spark, table).count() == 9
    s3 = read_delta_snapshot(table)
    assert s3.num_files == len(s1.files) - 3


# ---------------------------------------------------------------------------
# deterministic commit races: the winning commit runs inside the victim's
# staging step, after the victim read its snapshot and before it commits
# (no threads, no sleeps)

_KV = "k long, v double"


def _race(monkeypatch, owner, name, winner):
    """Run ``winner()`` inside the next call of ``owner.name``."""
    real = getattr(owner, name)
    fired = []

    def once(*args, **kwargs):
        if not fired:
            fired.append(True)
            winner()
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, once)


def _kv_rows(spark, path):
    return sorted(map(tuple, read_delta_table(spark, path).select("k", "v").collect()))


def _two_file_table(spark, path):
    """k 0..4 in one file (v0), k 5..9 in another (v1); v = k."""
    for ks in (range(5), range(5, 10)):
        write_delta_table(
            spark.createDataFrame([(k, float(k)) for k in ks], _KV).coalesce(1), path
        )
    return [(k, float(k)) for k in range(10)]


def test_delete_racing_update_conflicts(spark, tmp_path, monkeypatch):
    """An UPDATE that commits while a DELETE on the same file stages must
    fail the DELETE: committing it would re-add the UPDATE's pre-image
    next to the UPDATE's output (19 rows) and bring back the deleted
    row."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(k, float(k)) for k in range(10)], _KV).coalesce(1), path
    )
    _race(monkeypatch, dl, "_stage_data_files", lambda: dl.update_delta_table(
        spark, path, {"v": "v + 1000"}, [("k", "<", 5)]
    ))
    with pytest.raises(DeltaConcurrentCommitError):
        dl.delete_from_delta_table(spark, path, [("k", "=", 9)])
    assert _kv_rows(spark, path) == [
        (k, k + (1000.0 if k < 5 else 0.0)) for k in range(10)
    ]
    assert read_delta_snapshot(path).version == 1


def _victims(spark, path):
    """name -> (module, the hook its staging step calls, the operation,
    its effect on the (k, v) rows).  Every operation reads the k 0..4
    file."""
    from ballista_spark.sources import deltalog as dl

    def delete(dv):
        return lambda: dl.delete_from_delta_table(
            spark, path, [("k", "=", 4)], use_deletion_vectors=dv
        )

    def update():
        return dl.update_delta_table(spark, path, {"v": "v + 0.5"}, [("k", "=", 3)])

    def merge():
        src = spark.createDataFrame([(4, 40.0), (20, 20.0)], _KV)
        return dl.merge_delta_table(spark, path, src, on=["k"])

    def optimize():
        return dl.compact_delta_table(spark, path, target_file_bytes=1 << 30)

    def deleted(rows):
        return [r for r in rows if r[0] != 4]

    return {
        "delete": (dl, "_stage_data_files", delete(False), deleted),
        "dv_delete": (dl.fsio, "write_bytes", delete(True), deleted),
        "update": (dl, "_stage_data_files", update,
                   lambda rows: [(k, v + 0.5 if k == 3 else v) for k, v in rows]),
        "merge": (dl, "_stage_data_files", merge,
                  lambda rows: sorted(deleted(rows) + [(4, 40.0), (20, 20.0)])),
        "optimize": (dl, "_collect_file_stats", optimize, lambda rows: rows),
    }


_VICTIMS = ["delete", "dv_delete", "update", "merge", "optimize"]


@pytest.mark.parametrize("winner", ["update", "dv_delete"])
@pytest.mark.parametrize("victim", _VICTIMS)
def test_race_on_removed_input_raises(spark, tmp_path, monkeypatch, victim, winner):
    """The winner rewrites the k 0..4 file (UPDATE removes it; a DV
    DELETE re-adds it with a new deletion vector), so the victim's input
    is no longer live: the victim raises and the table is the winner's."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    def win():
        if winner == "update":
            dl.update_delta_table(spark, path, {"v": "v + 1000"}, [("k", "<", 2)])
        else:
            dl.delete_from_delta_table(
                spark, path, [("k", "=", 0)], use_deletion_vectors=True
            )

    if winner == "update":
        expect = [(k, v + 1000 if k < 2 else v) for k, v in rows]
    else:
        expect = rows[1:]
    owner, hook, op, _effect = _victims(spark, path)[victim]
    _race(monkeypatch, owner, hook, win)
    with pytest.raises(DeltaConcurrentCommitError):
        op()
    assert _kv_rows(spark, path) == expect
    assert read_delta_snapshot(path).version == 2


@pytest.mark.parametrize("victim", _VICTIMS)
def test_race_with_blind_append_commits_on_top(spark, tmp_path, monkeypatch, victim):
    """A blind append removes nothing: the victim commits at the
    winner's version + 1 and both changes are visible.  The winner
    checkpoints its version, so the victim's re-read starts from a
    checkpoint."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    new = [(100, 100.0), (101, 101.0)]
    owner, hook, op, effect = _victims(spark, path)[victim]
    _race(monkeypatch, owner, hook, lambda: write_delta_table(
        spark.createDataFrame(new, _KV), path, checkpoint_interval=1
    ))
    assert op() == 3
    assert _kv_rows(spark, path) == sorted(effect(rows) + new)
    assert os.path.exists(
        os.path.join(path, "_delta_log", f"{2:020d}.checkpoint.parquet")
    )


def test_racing_blind_appends_both_commit(spark, tmp_path, monkeypatch, caplog):
    """Two blind appends: the one that stages second loses the version
    it read, rebuilds on the winner and commits at its second attempt
    (one commit record each)."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    new = [(100, 100.0), (101, 101.0)]
    _race(monkeypatch, dl, "_stage_data_files", lambda: write_delta_table(
        spark.createDataFrame(new[:1], _KV), path
    ))
    caplog.set_level("INFO", logger="ballista_spark.commit")
    assert write_delta_table(spark.createDataFrame(new[1:], _KV), path) == 3
    assert _kv_rows(spark, path) == sorted(rows + new)
    records = [r for r in caplog.records if r.name == "ballista_spark.commit"]
    assert [(r.format, r.version, r.attempts, r.outcome) for r in records] == [
        ("delta", 2, 1, "committed"), ("delta", 3, 2, "committed")
    ]


def test_overwrite_racing_update_raises(spark, tmp_path, monkeypatch):
    """An overwrite rebuilds its removes on the winner's snapshot, but a
    winner that removed one of them still conflicts (the removed-file
    rule holds for every commit kind)."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    _race(monkeypatch, dl, "_stage_data_files", lambda: dl.update_delta_table(
        spark, path, {"v": "v + 1000"}, [("k", "<", 2)]
    ))
    with pytest.raises(DeltaConcurrentCommitError):
        write_delta_table(spark.createDataFrame([(7, 7.0)], _KV), path, mode="overwrite")
    assert _kv_rows(spark, path) == [(k, v + 1000 if k < 2 else v) for k, v in rows]


def test_dml_racing_metadata_change_raises(spark, tmp_path, monkeypatch):
    """Staged DML fails when a winner changed the table's metadata:
    here the table became append-only while the DELETE staged."""
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    _race(monkeypatch, dl, "_stage_data_files", lambda: dl.set_delta_table_properties(
        path, {"delta.appendOnly": "true"}
    ))
    with pytest.raises(DeltaConcurrentCommitError):
        dl.delete_from_delta_table(spark, path, [("k", "=", 4)])
    assert _kv_rows(spark, path) == rows


def test_alter_racing_alter_keeps_both_columns(spark, tmp_path, monkeypatch):
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    _two_file_table(spark, path)
    _race(monkeypatch, dl, "_check_writer_protocol", lambda: dl.alter_delta_table(
        path, add_columns={"b": "string"}
    ))
    assert dl.alter_delta_table(path, add_columns={"c": "long"}) == 3
    snap = read_delta_snapshot(path)
    assert [f.name for f in snap.schema.fields] == ["k", "v", "b", "c"]
    assert read_delta_table(spark, path).where("b IS NULL AND c IS NULL").count() == 10


def test_txn_write_racing_its_replay_appends_once(spark, tmp_path, monkeypatch):
    from ballista_spark.sources import deltalog as dl

    path = str(tmp_path / "t")
    rows = _two_file_table(spark, path)
    batch = spark.createDataFrame([(50, 50.0)], _KV)

    def write():
        return write_delta_table(batch, path, txn_app_id="app", txn_version=1)

    _race(monkeypatch, dl, "_stage_data_files", write)
    assert write() is None
    assert _kv_rows(spark, path) == rows + [(50, 50.0)]
    snap = read_delta_snapshot(path)
    assert (snap.version, snap.app_versions) == (2, {"app": 1})


def test_merge_only_table_checkpoints(spark, tmp_path):
    """Every commit kind checkpoints at the default interval: one write
    plus ten MERGEs (the upsert-sink shape) leave a v10 checkpoint that
    snapshot reads start from."""
    from ballista_spark.sources.deltalog import _read_last_checkpoint, merge_delta_table

    path = str(tmp_path / "t")
    write_delta_table(spark.createDataFrame([(0, 0.0)], _KV), path)
    for i in range(1, 11):
        src = spark.createDataFrame([(i, float(i))], _KV)
        assert merge_delta_table(spark, path, src, on=["k"]) == i
    logdir = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(logdir, f"{10:020d}.checkpoint.parquet"))
    assert _read_last_checkpoint(path)["version"] == 10
    for v in range(10):  # the checkpoint replaces the JSON commits before it
        os.remove(os.path.join(logdir, f"{v:020d}.json"))
    assert read_delta_snapshot(path).version == 10
    assert _kv_rows(spark, path) == [(k, float(k)) for k in range(11)]
