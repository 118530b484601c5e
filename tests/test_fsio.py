"""The filesystem shim (sources/fsio.py) and the lakehouse metadata
plane running on a NON-LOCAL filesystem: every log/manifest/commit IO
site goes through fsio, so the same code that passes the local suites
must round-trip on a registered pyarrow filesystem (the mock in-memory
FS stands in for s3/gcs/hdfs — same FileSystem interface, no network).

The DATA plane (spark.read/write.parquet) stays on Spark's own Hadoop
connectors and cannot see mock:// — these tests therefore exercise the
metadata layer end-to-end (snapshot reconstruction, pruning, footer
stats, exclusive-create commits) and the local data plane separately.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ballista_spark.sources import fsio


@pytest.fixture()
def mockfs():
    from pyarrow.fs import _MockFileSystem

    fs = _MockFileSystem()
    fsio.register_filesystem("mock", fs)
    yield fs
    fsio._REGISTERED.pop("mock", None)


@pytest.fixture()
def warnmode():
    """Opt a test into the pre-round-10 check-then-write commit path
    (strict is the default now; single-writer metadata-plane tests
    exercise the commit sites without a coordinator)."""
    prev = fsio.set_commit_mode("warn")
    yield
    fsio.set_commit_mode(prev)


# ------------------------------------------------------------- fsio unit


def test_local_fast_path(tmp_path):
    p = str(tmp_path / "a" / "b.txt")
    assert fsio.is_local(p) and fsio.is_local("file:///x") and not fsio.is_local("s3://b/k")
    fsio.write_text(p, "hi")
    assert fsio.read_text(p) == "hi"
    assert fsio.exists(p) and not fsio.exists(p + ".nope")
    assert fsio.listdir(str(tmp_path)) == ["a"]
    assert fsio.listdir(str(tmp_path / "missing")) == []
    assert fsio.walk_files(str(tmp_path)) == [("a/b.txt", 2)]
    assert fsio.file_size(p) == 2
    with pytest.raises(FileExistsError):
        fsio.create_exclusive(p, b"x")
    fsio.move(p, str(tmp_path / "c.txt"))
    assert fsio.read_text(str(tmp_path / "c.txt")) == "hi"
    fsio.remove(str(tmp_path / "c.txt"))
    assert not fsio.exists(str(tmp_path / "c.txt"))
    fsio.remove_dir(str(tmp_path / "a"))
    assert not fsio.exists(str(tmp_path / "a"))


def test_mock_fs_ops(mockfs, warnmode):
    fsio.write_bytes("mock://t/dir/f1.bin", b"abc")
    assert fsio.read_bytes("mock://t/dir/f1.bin") == b"abc"
    assert fsio.exists("mock://t/dir/f1.bin")
    assert fsio.isdir("mock://t/dir")
    assert fsio.listdir("mock://t/dir") == ["f1.bin"]
    assert fsio.listdir("mock://t/nope") == []
    fsio.write_bytes("mock://t/dir/sub/f2.bin", b"defg")
    assert fsio.walk_files("mock://t") == [
        ("dir/f1.bin", 3), ("dir/sub/f2.bin", 4)
    ]
    with pytest.warns(UserWarning, match="not atomic"):
        with pytest.raises(FileExistsError):
            fsio.create_exclusive("mock://t/dir/f1.bin", b"x")
    fsio.create_exclusive("mock://t/dir/f3.bin", b"x")
    assert fsio.read_bytes("mock://t/dir/f3.bin") == b"x"
    fsio.move("mock://t/dir/f3.bin", "mock://t/moved/f3.bin")
    assert fsio.read_bytes("mock://t/moved/f3.bin") == b"x"
    fsio.remove("mock://t/moved/f3.bin")
    assert not fsio.exists("mock://t/moved/f3.bin")
    fsio.remove_dir("mock://t/dir/sub")
    assert fsio.walk_files("mock://t") == [("dir/f1.bin", 3)]
    fsio.remove_dir("mock://t/ghost")  # ignore-errors semantics


def test_scheme_alias_rewrite():
    # hadoop spellings route to pyarrow schemes before from_uri
    assert fsio._SCHEME_ALIASES["s3a"] == "s3"
    assert not fsio.is_local("s3a://bucket/k")


# -------------------------------------------- Delta metadata plane on mock


def _mock_delta_table(n_files=3):
    """Hand-build a Delta table on mock://: parquet data files written
    through fsio + a v0 commit with footer-derived stats."""
    table = "mock://wh/t"
    adds = []
    for i in range(n_files):
        rel = f"f{i}.parquet"
        with fsio.open_output(f"{table}/{rel}") as sink:
            pq.write_table(
                pa.table({
                    "id": pa.array([i * 10 + j for j in range(5)], pa.int64()),
                    "cat": pa.array(["x"] * 5, pa.string()),
                }),
                sink,
            )
        from ballista_spark.sources.deltalog import _file_stats_json

        stats, n = _file_stats_json(f"{table}/{rel}", ["id", "cat"])
        assert n == 5
        adds.append({
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": fsio.file_size(f"{table}/{rel}"),
                "modificationTime": 0,
                "dataChange": True,
                "stats": stats,
            }
        })
    meta = {
        "metaData": {
            "id": "m",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "long", "nullable": True,
                     "metadata": {}},
                    {"name": "cat", "type": "string", "nullable": True,
                     "metadata": {}},
                ],
            }),
            "partitionColumns": [],
            "configuration": {},
            "createdTime": 0,
        }
    }
    proto = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    from ballista_spark.sources.deltalog import _attempt_commit

    _attempt_commit(table, 0, [proto, meta] + adds)
    return table


def test_delta_metadata_plane_on_mock_fs(mockfs, warnmode):
    from ballista_spark.sources.deltalog import (
        _attempt_commit,
        _prune_files,
        read_delta_snapshot,
    )

    table = _mock_delta_table()
    snap = read_delta_snapshot(table)
    assert snap.version == 0 and snap.num_files == 3
    assert [f.path for f in snap.files] == ["f0.parquet", "f1.parquet", "f2.parquet"]
    # footer stats made it into the log and drive pruning on mock://
    pruned = _prune_files(snap, [("id", ">=", 20)])
    assert pruned.files_pruned == 2
    # a second commit (remove f0) through the exclusive-create path
    _attempt_commit(table, 1, [
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 1,
                    "dataChange": True}}
    ])
    assert read_delta_snapshot(table).num_files == 2
    assert read_delta_snapshot(table, 0).num_files == 3  # time travel
    # commit race: version 1 already exists
    with pytest.raises(FileExistsError):
        _attempt_commit(table, 1, [])


# ------------------------------------------ Iceberg metadata plane on mock


def test_iceberg_metadata_plane_on_mock_fs(mockfs, warnmode):
    from ballista_spark.sources.iceberg import (
        _commit_metadata,
        _live_entries,
        _load_metadata,
        _write_manifest,
        _write_manifest_list,
    )

    table = "mock://wh/ice"
    meta_dir = f"{table}/metadata"
    fsio.mkdirs(meta_dir)
    schema_json = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
        ],
    }
    entries = [{
        "status": 1,
        "snapshot_id": 77,
        "data_file": {
            "file_path": f"{table}/data/d0.parquet",
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 4,
            "file_size_in_bytes": 123,
            "block_size_in_bytes": 1,
            "null_value_counts": [],
            "lower_bounds": [],
            "upper_bounds": [],
        },
    }]
    mpath, mlen = _write_manifest(meta_dir, schema_json, entries)
    lpath = _write_manifest_list(meta_dir, 77, [{
        "manifest_path": mpath,
        "manifest_length": mlen,
        "partition_spec_id": 0,
        "added_snapshot_id": 77,
        "added_data_files_count": 1,
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
    }])
    md = {
        "format-version": 1,
        "table-uuid": "u",
        "location": table,
        "last-updated-ms": 0,
        "last-column-id": 1,
        "schema": schema_json,
        "partition-spec": [],
        "current-snapshot-id": 77,
        "snapshots": [{
            "snapshot-id": 77,
            "timestamp-ms": 0,
            "sequence-number": 1,
            "manifest-list": lpath,
            "summary": {"operation": "append"},
        }],
        "snapshot-log": [{"snapshot-id": 77, "timestamp-ms": 0}],
    }
    _commit_metadata(meta_dir, md, 0)
    assert _load_metadata(table)[0] == 1
    back = _load_metadata(table)[1]
    assert back["current-snapshot-id"] == 77
    live = _live_entries(table, back["snapshots"][0])
    assert len(live) == 1
    assert live[0]["data_file"]["file_path"] == f"{table}/data/d0.parquet"
    # exclusive create: a racer on v2 loses
    _commit_metadata(meta_dir, md, 1)
    with pytest.raises(FileExistsError):
        _commit_metadata(meta_dir, md, 1)


# --------------------------------------------- Hudi timeline plane on mock


def test_hudi_timeline_on_mock_fs(mockfs, warnmode):
    from ballista_spark.sources.hudi import hudi_snapshot_files

    table = "mock://wh/hudi"
    fsio.write_text(
        f"{table}/.hoodie/hoodie.properties",
        "hoodie.table.name=t\nhoodie.table.type=COPY_ON_WRITE\n",
    )
    inst1, inst2 = "20240101000000000", "20240102000000000"
    for inst in (inst1, inst2):
        fsio.write_text(f"{table}/.hoodie/{inst}.commit", "{}")
    # one file group, two slices: the later instant wins
    for inst in (inst1, inst2):
        with fsio.open_output(f"{table}/fg1_0-1-1_{inst}.parquet") as sink:
            pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), sink)
    # an inflight instant's file stays invisible
    with fsio.open_output(
        f"{table}/fg2_0-1-1_20240103000000000.parquet"
    ) as sink:
        pq.write_table(pa.table({"id": pa.array([2], pa.int64())}), sink)
    files = hudi_snapshot_files(table)
    assert files == [f"{table}/fg1_0-1-1_{inst2}.parquet"]
    assert hudi_snapshot_files(table, as_of_instant=inst1) == [
        f"{table}/fg1_0-1-1_{inst1}.parquet"
    ]


# ----------------------------------- executor-side footer stats (local)


def test_distributed_stats_path_matches_driver_loop(spark, tmp_path, monkeypatch):
    """Forcing the executor-side mapInPandas stats pass (threshold=1)
    must produce byte-identical add actions to the driver loop."""
    from ballista_spark.sources import deltalog

    df = spark.createDataFrame(
        [(i, f"c{i % 3}", float(i)) for i in range(40)],
        "id long, cat string, v double",
    ).repartition(4)

    p1 = str(tmp_path / "driver")
    deltalog.write_delta_table(df, p1)
    monkeypatch.setattr(deltalog, "EXECUTOR_STATS_MIN_FILES", 1)
    monkeypatch.setattr(deltalog, "EXECUTOR_STATS_FORCE", True)
    p2 = str(tmp_path / "exec")
    deltalog.write_delta_table(df, p2)

    def _adds(path):
        snap = deltalog.read_delta_snapshot(path)
        return sorted(
            (f.stats["numRecords"],
             json.dumps(f.stats, sort_keys=True))
            for f in snap.files
        )

    assert _adds(p1) == _adds(p2)
    got = {r["id"] for r in deltalog.read_delta_table(spark, p2).collect()}
    assert got == set(range(40))


def test_distributed_bounds_path_matches_driver_loop(spark, tmp_path, monkeypatch):
    from ballista_spark.sources import iceberg

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    ).repartition(4)
    p1 = str(tmp_path / "driver")
    iceberg.write_iceberg_table(df, p1)
    monkeypatch.setattr(iceberg, "EXECUTOR_STATS_MIN_FILES", 1)
    monkeypatch.setattr(iceberg, "EXECUTOR_STATS_FORCE", True)
    p2 = str(tmp_path / "exec")
    iceberg.write_iceberg_table(df, p2)

    def _bounds(path):
        snap = iceberg.read_iceberg_snapshot(path)
        return sorted(
            (f[1], json.dumps({k: str(v) for k, v in (f[2] or {}).items()},
                              sort_keys=True))
            for f in snap.files
        )

    assert _bounds(p1) == _bounds(p2)
    got = {r["id"] for r in iceberg.read_iceberg_table(spark, p2).collect()}
    assert got == set(range(40))


def test_authority_scheme_path_split(monkeypatch):
    """Cache-warm path derivation matches from_uri's own split (review
    finding: the raw rest sent 'nn:8020/t' to HDFS as a relative path;
    round-8 advice: abfs 'container@account.../path' kept the raw
    '@account' authority on cache-warm calls).  Seed the cache exactly
    as a first from_uri call would and check warm derivations."""
    sentinel = object()
    monkeypatch.setattr(fsio, "_FS_CACHE", {
        # hdfs://nn:8020/warehouse/t -> path '/warehouse/t' => prefix ''
        "hdfs://nn:8020": (sentinel, ""),
        # s3://bucket/key -> path 'bucket/key' => prefix 'bucket'
        "s3://bucket": (sentinel, "bucket"),
        # abfs://container@account.dfs.core.windows.net/path ->
        # from_uri path 'container/path' => prefix 'container'
        "abfs://container@account.dfs.core.windows.net": (
            sentinel, "container"
        ),
    })
    assert fsio._resolve("hdfs://nn:8020/warehouse/t") == (
        sentinel, "/warehouse/t"
    )
    assert fsio._resolve("viewfs://nn:8020/a/b") == (sentinel, "/a/b")
    assert fsio._resolve("s3a://bucket/key/part") == (
        sentinel, "bucket/key/part"
    )
    assert fsio._resolve("s3://bucket") == (sentinel, "bucket")
    assert fsio._resolve(
        "wasb://container@account.dfs.core.windows.net/path/x"
    ) == (sentinel, "container/path/x")


def test_cold_resolve_caches_from_uri_split(monkeypatch):
    """First resolve trusts from_uri's path verbatim AND caches the
    prefix it implied, so warm calls agree byte-for-byte."""
    sentinel = object()
    calls = []

    def fake_from_uri(uri):
        calls.append(uri)
        # mimic the azure split: authority collapses to the container
        assert uri == "abfs://c@acct.dfs.core.windows.net/a/b"
        return sentinel, "c/a/b"

    monkeypatch.setattr(fsio, "_FS_CACHE", {})
    monkeypatch.setattr(fsio, "_from_uri", fake_from_uri)
    cold = fsio._resolve("abfs://c@acct.dfs.core.windows.net/a/b")
    warm = fsio._resolve("abfs://c@acct.dfs.core.windows.net/a/b")
    assert cold == (sentinel, "c/a/b")
    assert warm == (sentinel, "c/a/b")
    assert len(calls) == 1  # second call served from the cache


def test_percent_in_tail_is_literal_and_cached(monkeypatch):
    """'%' in an object key is LITERAL (Hive/Spark escapePathName
    partition dirs like p=a%20b, round-tripped verbatim by Delta
    add.path) — resolution must not percent-decode it through from_uri
    nor mint a fresh FileSystem per call (round-9 advice)."""
    sentinel = object()
    calls = []

    def fake_from_uri(uri):
        calls.append(uri)
        assert uri == "s3://bucket"  # tail-less authority probe only
        return sentinel, "bucket"

    monkeypatch.setattr(fsio, "_FS_CACHE", {})
    monkeypatch.setattr(fsio, "_from_uri", fake_from_uri)
    cold = fsio._resolve("s3://bucket/t/p=a%20b/part-0.parquet")
    warm = fsio._resolve("s3a://bucket/t/p=a%20b/part-1.parquet")
    assert cold == (sentinel, "bucket/t/p=a%20b/part-0.parquet")
    assert warm == (sentinel, "bucket/t/p=a%20b/part-1.parquet")
    assert calls == ["s3://bucket"]  # one probe; shared cached fs


def test_move_same_store_with_percent_paths(monkeypatch):
    """Staged-file moves on partitioned object-store tables: both
    %-containing endpoints must resolve to the SAME cached filesystem
    so move()'s same-store identity check passes (round-9 advice)."""

    class FakeFS:
        def __init__(self):
            self.moves = []

        def create_dir(self, p, recursive=True):
            pass

        def move(self, s, d):
            self.moves.append((s, d))

    fs = FakeFS()
    monkeypatch.setattr(fsio, "_FS_CACHE", {})
    monkeypatch.setattr(fsio, "_from_uri", lambda uri: (fs, "bucket"))
    fsio.move("s3://bucket/_stage/p=a%20b/f", "s3://bucket/t/p=a%20b/f")
    assert fs.moves == [("bucket/_stage/p=a%20b/f", "bucket/t/p=a%20b/f")]


# ------------------------------------------------------------ LogStore


class _DictLogStore(fsio.LogStore):
    """Test double: an atomic put-if-absent over a lock + set, writing
    through to the scheme's filesystem after winning (what a DynamoDB
    LogStore does with its conditional write)."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._seen = set()
        self.calls = 0

    def put_if_absent(self, path, data):
        with self._lock:
            self.calls += 1
            if path in self._seen or fsio.exists(path):
                raise FileExistsError(path)
            self._seen.add(path)
        fsio.write_bytes(path, data)


@pytest.fixture()
def mock_log_store(mockfs):
    store = _DictLogStore()
    fsio.register_log_store("mock", store)
    yield store
    fsio._LOG_STORES.pop("mock", None)


def test_log_store_routes_commits_and_wins_races(mock_log_store):
    import threading

    path = "mock://tbl/_delta_log/00000000000000000000.json"
    n = 8
    barrier = threading.Barrier(n)
    outcomes = []

    def attempt(i):
        barrier.wait()
        try:
            fsio.create_exclusive(path, b"%d" % i)
            outcomes.append(("win", i))
        except FileExistsError:
            outcomes.append(("lose", i))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [o for o in outcomes if o[0] == "win"]
    assert len(wins) == 1 and len(outcomes) == n
    assert fsio.read_bytes(path) == b"%d" % wins[0][1]
    assert mock_log_store.calls == n  # every attempt went through the store


def test_log_store_end_to_end_delta_commits(mock_log_store):
    """A mock:// Delta table's commits route through the registered
    LogStore with no non-atomic warning (Spark's hadoop connectors
    can't see mock://, so the commit plane is exercised directly —
    the same surface every lakehouse writer funnels through)."""
    import warnings as _w

    from ballista_spark.sources.deltalog import read_delta_snapshot

    with _w.catch_warnings():
        _w.simplefilter("error")  # any check-then-write warning fails
        table = _mock_delta_table()
        from ballista_spark.sources.deltalog import _attempt_commit

        _attempt_commit(table, 1, [
            {"remove": {"path": "f0.parquet", "deletionTimestamp": 1,
                        "dataChange": True}}
        ])
        with pytest.raises(FileExistsError):  # loser sees the taken slot
            _attempt_commit(table, 1, [])
    assert mock_log_store.calls == 3  # v0 + v1 + the losing attempt
    assert read_delta_snapshot(table).num_files == 2


def test_strict_is_default_and_refuses_without_log_store(mockfs, tmp_path):
    """Round 10: non-local commits REFUSE by default — the warning text
    became the error; the unsafe path is opt-in via warn mode."""
    assert fsio._COMMIT_MODE == "strict"
    with pytest.raises(PermissionError, match="strict commit mode"):
        fsio.create_exclusive("mock://t/_delta_log/0.json", b"x")
    # local paths stay atomic and unaffected by strict mode
    p = str(tmp_path / "local.json")
    fsio.create_exclusive(p, b"x")
    with pytest.raises(FileExistsError):
        fsio.create_exclusive(p, b"y")


def test_warn_mode_check_then_write_warns_once(mockfs, warnmode, monkeypatch):
    monkeypatch.setattr(fsio, "_warned_non_atomic", False)
    with pytest.warns(UserWarning, match="LogStore"):
        fsio.create_exclusive("mock://w/one.json", b"x")
    with pytest.raises(FileExistsError):
        fsio.create_exclusive("mock://w/one.json", b"y")
    assert fsio.read_bytes("mock://w/one.json") == b"x"


# ---------------------------------------------------- SqliteLogStore


@pytest.fixture()
def sqlite_store(mockfs, tmp_path):
    store = fsio.SqliteLogStore(str(tmp_path / "commits.db"))
    fsio.register_log_store("mock", store)
    yield store
    fsio._LOG_STORES.pop("mock", None)


def test_sqlite_log_store_exactly_one_winner(sqlite_store):
    """The shipped reference coordinator under a genuine N-writer race:
    exactly one create_exclusive wins, the final object holds the
    winner's bytes, and no temp files leak."""
    import threading

    path = "mock://tbl/_delta_log/00000000000000000007.json"
    n = 12
    barrier = threading.Barrier(n)
    outcomes = []

    def attempt(i):
        barrier.wait()
        try:
            fsio.create_exclusive(path, b"payload-%d" % i)
            outcomes.append(("win", i))
        except FileExistsError:
            outcomes.append(("lose", i))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [o for o in outcomes if o[0] == "win"]
    assert len(wins) == 1 and len(outcomes) == n
    assert fsio.read_bytes(path) == b"payload-%d" % wins[0][1]
    # no stage temps left behind
    leftovers = [
        rel for rel, _ in fsio.walk_files("mock://tbl") if ".tmp-" in rel
    ]
    assert leftovers == []


def test_sqlite_log_store_recovers_crashed_winner(sqlite_store, monkeypatch):
    """A winner crashing between CLAIM and PUBLISH must not wedge the
    slot: the next attempt completes the winner's commit from its
    recorded temp, then reports the slot taken."""
    path = "mock://tbl/_delta_log/00000000000000000001.json"

    real_write = fsio.write_bytes
    crashed = {"done": False}

    def crash_on_publish(p, data):
        if p == path and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("simulated crash after claim")
        real_write(p, data)

    monkeypatch.setattr(fsio, "write_bytes", crash_on_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sqlite_store.put_if_absent(path, b"winner-bytes")
    assert not fsio.exists(path)  # claimed but unpublished

    # a later writer loses AND completes the crashed winner's commit
    with pytest.raises(FileExistsError):
        sqlite_store.put_if_absent(path, b"loser-bytes")
    assert fsio.read_bytes(path) == b"winner-bytes"
    # idempotent: further losers see the completed slot, content stable
    with pytest.raises(FileExistsError):
        sqlite_store.put_if_absent(path, b"third-bytes")
    assert fsio.read_bytes(path) == b"winner-bytes"


def test_sqlite_log_store_delta_commits_under_strict(sqlite_store):
    """End-to-end under the strict DEFAULT: a mock:// Delta table
    commits through the sqlite coordinator with no warning and no
    refusal — the supported multi-writer deployment shape."""
    import warnings as _w

    from ballista_spark.sources.deltalog import (
        _attempt_commit,
        read_delta_snapshot,
    )

    assert fsio._COMMIT_MODE == "strict"
    with _w.catch_warnings():
        _w.simplefilter("error")
        table = _mock_delta_table()
        _attempt_commit(table, 1, [
            {"remove": {"path": "f0.parquet", "deletionTimestamp": 1,
                        "dataChange": True}}
        ])
        with pytest.raises(FileExistsError):
            _attempt_commit(table, 1, [])
    assert read_delta_snapshot(table).num_files == 2


def test_sqlite_log_store_winner_completed_by_racing_loser(
    sqlite_store, monkeypatch
):
    """Review finding: a racing loser's _recover can publish the
    winner's staged temp BEFORE the winner's own publish step.  The
    winner must recognize the published object as its own commit and
    SUCCEED — not misread it as a foreign commit and raise."""
    path = "mock://tbl/_delta_log/00000000000000000009.json"
    real_write = fsio.write_bytes

    def write_and_mirror(p, data):
        real_write(p, data)
        if ".tmp-" in p:
            # a racing loser completes our claim the instant we stage
            real_write(path, data)

    monkeypatch.setattr(fsio, "write_bytes", write_and_mirror)
    sqlite_store.put_if_absent(path, b"mine")  # must NOT raise
    assert fsio.read_bytes(path) == b"mine"
    monkeypatch.setattr(fsio, "write_bytes", real_write)
    with pytest.raises(FileExistsError):  # slot now taken for others
        sqlite_store.put_if_absent(path, b"other")
    assert fsio.read_bytes(path) == b"mine"


def test_sqlite_log_store_winner_survives_torn_recovery_read(
    sqlite_store, monkeypatch
):
    """r11 robustness: write_bytes makes a path visible at open time
    (empty/partial until close), so a winner racing a loser's _recover
    mid-publish can READ TORN BYTES of its own commit.  The winner's
    classification must retry past the transient mismatch and report
    success — an all-losers outcome was observed once in the 12-writer
    race under heavy host load."""
    path = "mock://tbl/_delta_log/00000000000000000011.json"
    real_write = fsio.write_bytes
    real_read = fsio.read_bytes
    torn = {"reads": 0}

    def write_and_mirror(p, data):
        real_write(p, data)
        if ".tmp-" in p:
            # racing loser mid-publish: the object exists...
            real_write(path, data)

    def torn_then_real(p):
        if p == path and torn["reads"] < 2:
            torn["reads"] += 1
            return b""  # ...but its bytes are not all visible yet
        return real_read(p)

    monkeypatch.setattr(fsio, "write_bytes", write_and_mirror)
    monkeypatch.setattr(fsio, "read_bytes", torn_then_real)
    sqlite_store.put_if_absent(path, b"mine")  # must NOT raise
    monkeypatch.setattr(fsio, "write_bytes", real_write)
    monkeypatch.setattr(fsio, "read_bytes", real_read)
    assert fsio.read_bytes(path) == b"mine"


def test_sqlite_log_store_never_clobbers_foreign_commit(
    sqlite_store, monkeypatch
):
    """An object that exists WITHOUT a db row (warn-mode history, a
    rebuilt db) is a taken slot — put-if-absent must refuse without
    overwriting it, both on the fast pre-check and in the post-claim
    race window."""
    # fast pre-check
    fast = "mock://tbl/_delta_log/00000000000000000010.json"
    fsio.write_bytes(fast, b"foreign")
    with pytest.raises(FileExistsError):
        sqlite_store.put_if_absent(fast, b"mine")
    assert fsio.read_bytes(fast) == b"foreign"

    # post-claim window: the foreign object lands between the
    # pre-check and the claim
    slow = "mock://tbl/_delta_log/00000000000000000011.json"
    real_write = fsio.write_bytes

    def write_and_plant(p, data):
        real_write(p, data)
        if ".tmp-" in p:
            real_write(slow, b"foreign")

    monkeypatch.setattr(fsio, "write_bytes", write_and_plant)
    with pytest.raises(FileExistsError):
        sqlite_store.put_if_absent(slow, b"mine")
    assert fsio.read_bytes(slow) == b"foreign"
