"""Dialect parity: the reference's *verbatim* TPC-H SQL corpus
(rust/benchmarks/tpch/queries/q*.sql — its declared correctness contract,
SURVEY.md §5) must parse and execute on this engine.

Runs every file against empty full-schema tables (ballista_spark.tpch
schemas — data-free, so this is purely a parser/analyzer/planner test).
Known exception: the reference's own q20.sql contains a typo
(``'date 1994-01-01'`` — a *string literal* around the date keyword, line
31); q20 was never in the reference's passing integration set
(run.sh:6 = q1,3,5,6,10,12).  With the typo corrected, q20 passes too.
"""

from __future__ import annotations

import glob
import os

import pytest

from ballista_spark.tpch import TPCH_SCHEMAS
from ballista_spark.types import schema as mk

QUERY_DIR = "/root/reference/rust/benchmarks/tpch/queries"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(QUERY_DIR), reason="reference checkout not present"
)


@pytest.fixture(scope="module")
def empty_tpch(spark):
    for name, cols in TPCH_SCHEMAS.items():
        spark.createDataFrame([], mk(cols)).createOrReplaceTempView(name)
    return spark


def _queries():
    return sorted(
        glob.glob(os.path.join(QUERY_DIR, "q*.sql")),
        key=lambda p: int(os.path.basename(p)[1:-4]),
    )


# ids as a list: with no reference checkout the list is empty, and an
# ids callable would receive pytest's empty-set placeholder and raise
@pytest.mark.parametrize(
    "path", _queries(), ids=[os.path.basename(p)[:-4] for p in _queries()]
)
def test_reference_sql_parses_and_executes(empty_tpch, path):
    text = open(path).read()
    if os.path.basename(path) == "q20.sql":
        # reference file's own typo: string literal around the date keyword
        text = text.replace("'date 1994-01-01'", "date '1994-01-01'")
    rows = empty_tpch.sql(text).collect()
    # grouped queries return no rows on empty tables; global aggregates
    # (q6/q14/q17/q19) return exactly one all-NULL row — either way the
    # query fully parsed, analyzed, planned, and executed
    assert len(rows) <= 1


def test_reference_q20_typo_is_rejected(empty_tpch):
    """The unpatched q20 must fail analysis (string + interval is a type
    error under ANSI semantics) — documents why the exception exists."""
    text = open(os.path.join(QUERY_DIR, "q20.sql")).read()
    with pytest.raises(Exception):
        empty_tpch.sql(text).collect()
