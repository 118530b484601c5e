"""The row-level rewrite core (``sources/rewrite.py``): Delta and Iceberg
MERGE / UPDATE / DELETE run one touch-only algorithm, so both formats
must give the same answers on the same input."""

from __future__ import annotations

import os

import pytest

from ballista_spark.sources import deltalog, iceberg

_KV = "k long, v long"

_WRITE = {"delta": deltalog.write_delta_table, "iceberg": iceberg.write_iceberg_table}
_READ = {"delta": deltalog.read_delta_table, "iceberg": iceberg.read_iceberg_table}
_MERGE = {"delta": deltalog.merge_delta_table, "iceberg": iceberg.merge_iceberg_table}
_UPDATE = {
    "delta": deltalog.update_delta_table,
    "iceberg": iceberg.update_iceberg_table,
}


def _cow_delete(fmt, spark, path, filters):
    if fmt == "delta":
        return deltalog.delete_from_delta_table(
            spark, path, filters, use_deletion_vectors=False
        )
    return iceberg.delete_from_iceberg_table(
        spark, path, filters, use_position_deletes=False
    )


def _table(spark, fmt, path, keys):
    """One data file holding ``(k, 0)`` for every key."""
    _WRITE[fmt](spark.createDataFrame([(k, 0) for k in keys], _KV).coalesce(1), path)


def _rows(spark, fmt, path):
    return sorted(map(tuple, _READ[fmt](spark, path).select("k", "v").collect()))


def _files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    )


@pytest.mark.parametrize("table_dir", ["plain", "my tbl", "a+b"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_matches_file_under_escaped_table_path(spark, tmp_path, fmt, table_dir):
    """The touch probe must recognise the file holding k=3 whatever the
    table path needs percent-encoding: a miss leaves the old row in
    place and inserts the source row next to it (11 rows)."""
    path = str(tmp_path / table_dir)
    _table(spark, fmt, path, range(1, 11))
    _MERGE[fmt](spark, path, spark.createDataFrame([(3, 99)], _KV), ["k"])
    assert _rows(spark, fmt, path) == [
        (k, 99 if k == 3 else 0) for k in range(1, 11)
    ]


@pytest.mark.parametrize("op", ["update", "delete"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_no_match_inside_file_bounds_writes_nothing(spark, tmp_path, fmt, op):
    """k=5 falls inside the file's [1, 9] bounds but matches no row: the
    exact probe finds nothing, so no file is rewritten and no commit
    lands — the call returns None and the table is byte-identical."""
    path = str(tmp_path / "t")
    _table(spark, fmt, path, [1, 3, 7, 9])
    before = _files(path)
    if op == "update":
        got = _UPDATE[fmt](spark, path, {"v": "v + 1"}, [("k", "=", 5)])
    else:
        got = _cow_delete(fmt, spark, path, [("k", "=", 5)])
    assert got is None
    assert _files(path) == before  # no data file, no log/metadata version
    assert _rows(spark, fmt, path) == [(k, 0) for k in (1, 3, 7, 9)]


def _live(spark, fmt, path):
    mod = deltalog if fmt == "delta" else iceberg
    t = mod._Rewrite(spark, path, "DELETE")
    return {t.path(f) for f in t.live_files()}


def _jobs(spark, group, call) -> int:
    """The number of Spark jobs ``call()`` launches."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


#: jobs per commit with AQE on, where every shuffle map stage and every
#: broadcast is a job of its own.  MERGE: the source cache fill that
#: observes the key bounds (1), the probe's key broadcast and map-only
#: observed write (2), the one staged write's broadcast and write (2).
#: UPDATE and DELETE: the probe (1) and the staged write (1).
_BUDGET = {"merge": 5, "update": 2, "delete": 2}


@pytest.mark.parametrize("op", list(_BUDGET))
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_row_level_job_budget(spark, tmp_path, fmt, op):
    """A row-level commit on a range-clustered table launches only the
    jobs its algorithm needs, and rewrites only the files it touches."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    path = str(tmp_path / "t")
    df = spark.range(0, 2000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    _WRITE[fmt](df.repartitionByRange(8, "k").sortWithinPartitions("k"), path)
    band = [("k", ">=", 300), ("k", "<", 340)]
    call = {
        "merge": lambda: _MERGE[fmt](
            spark, path,
            spark.createDataFrame([(k, 99) for k in range(300, 340)], _KV), ["k"],
        ),
        "update": lambda: _UPDATE[fmt](spark, path, {"v": "v + 1"}, band),
        "delete": lambda: _cow_delete(fmt, spark, path, band),
    }[op]
    before = _live(spark, fmt, path)
    assert _jobs(spark, f"budget-{fmt}-{op}-{tmp_path.name}", call) == _BUDGET[op]
    assert len(before - _live(spark, fmt, path)) == 1


#: a MERGE source per case over a target of the even keys 0..18 in two
#: files: key 4 twice (a match) and 5 twice and 30 (no match); or keys
#: inside the files' bounds that match no row, so no file is touched
_SOURCES = {
    "duplicate_keys": [(4, 1), (4, 2), (5, 3), (5, 4), (30, 5)],
    "no_touched_file": [(5, 1), (7, 2), (7, 3)],
}


@pytest.mark.parametrize("source", list(_SOURCES))
@pytest.mark.parametrize("insert", [True, False], ids=["insert", "no_insert"])
@pytest.mark.parametrize("when_matched", ["update", "delete"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_modes_match_mirror(spark, tmp_path, fmt, when_matched, insert, source):
    """Every MERGE mode leaves the rows a pure-Python mirror of its
    semantics gives: matched target rows go; every source row whose key
    matches (update) or does not (insert) comes in, duplicates
    included.  A merge that changes nothing commits nothing."""
    path = str(tmp_path / "t")
    target = [(k, 0) for k in range(0, 20, 2)]
    _WRITE[fmt](
        spark.createDataFrame(target, _KV).repartitionByRange(2, "k")
        .sortWithinPartitions("k"),
        path,
    )
    src = _SOURCES[source]
    tkeys, skeys = {k for k, _ in target}, {k for k, _ in src}
    want = [r for r in target if r[0] not in skeys] + [
        r for r in src
        if (when_matched == "update" and r[0] in tkeys)
        or (insert and r[0] not in tkeys)
    ]
    before, files = _live(spark, fmt, path), _files(path)
    got = _MERGE[fmt](
        spark, path, spark.createDataFrame(src, _KV), ["k"], when_matched, insert
    )
    assert _rows(spark, fmt, path) == sorted(want)
    removed = before - _live(spark, fmt, path)
    assert len(removed) == (source == "duplicate_keys")
    if sorted(want) == sorted(target):
        assert got is None and _files(path) == files
    else:
        assert got is not None
