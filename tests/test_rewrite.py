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
