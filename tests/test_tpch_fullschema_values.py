"""VALUE parity for the reference's verbatim TPC-H corpus on the FULL
schema (all 8 tables incl. partsupp, l_shipmode/commitdate/receiptdate).

tests/test_reference_sql_dialect.py proves the verbatim
``rust/benchmarks/tpch/queries/q{1..22}.sql`` files parse/analyze/plan/
execute; this suite closes the loop the driver's reduced testdata can't:
each file runs UNPATCHED (q20's documented reference typo excepted) on
Spark and on DuckDB over the *same* generated full-schema parquet
(ballista_spark.tpch_datagen), and the result sets must agree row-for-row
— in particular the partsupp-bearing shapes the graded corpus only
covers via adaptation: q2's correlated MIN over partsupp
(rust/benchmarks/tpch/queries/q2.sql:21-37), q11's fraction-of-total
HAVING, q16's count-distinct with the supplier-complaint anti-join,
q20's nested-IN over partsupp, and q9's two-key partsupp join.

Every query is also asserted NON-empty — an accidental empty-vs-empty
"match" would verify nothing.

Floats: verbatim SQL can't carry the graded corpus's decimal-cast
discipline, so double aggregates may differ in the last few ulps between
engines (different accumulation orders); rows are canonically sorted and
compared with rel=1e-9 tolerance, exact for every non-float.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

QUERY_DIR = "/root/reference/rust/benchmarks/tpch/queries"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(QUERY_DIR), reason="reference checkout not present"
)


def _queries():
    return sorted(
        glob.glob(os.path.join(QUERY_DIR, "q*.sql")),
        key=lambda p: int(os.path.basename(p)[1:-4]),
    )


def _read(path: str) -> str:
    text = open(path).read()
    if os.path.basename(path) == "q20.sql":
        # the reference file's own typo: string literal around `date`
        # (documented in test_reference_sql_dialect.py)
        text = text.replace("'date 1994-01-01'", "date '1994-01-01'")
    return text


@pytest.fixture(scope="module")
def tpch_dir(tmp_path_factory):
    from ballista_spark.tpch_datagen import write_tpch

    out = str(tmp_path_factory.mktemp("tpch_full"))
    write_tpch(out)
    return out


@pytest.fixture(scope="module")
def spark_tpch(spark, tpch_dir):
    for name in (
        "region nation part supplier partsupp customer orders lineitem"
    ).split():
        spark.read.parquet(f"{tpch_dir}/{name}.parquet").createOrReplaceTempView(name)
    return spark


@pytest.fixture(scope="module")
def duck_tpch(tpch_dir):
    con = duckdb.connect()
    for name in (
        "region nation part supplier partsupp customer orders lineitem"
    ).split():
        con.execute(
            f"create view {name} as select * from "
            f"read_parquet('{tpch_dir}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon(rows):
    """Rows as sortable tuples: floats keyed on a 9-sig-fig rounding so
    equal-within-tolerance values sort identically on both engines."""
    def key(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, float(f"{v:.9g}"))
        if isinstance(v, (int,)):
            return (1, float(v))
        return (2, str(v))

    return sorted((tuple(r) for r in rows), key=lambda r: tuple(key(v) for v in r))


def _assert_rows_equal(got, want, qname):
    assert len(got) == len(want), f"{qname}: {len(got)} vs {len(want)} rows"
    for i, (g, w) in enumerate(zip(_canon(got), _canon(want))):
        assert len(g) == len(w), f"{qname} row {i}: arity {len(g)} vs {len(w)}"
        for gv, wv in zip(g, w):
            if isinstance(gv, float) or isinstance(wv, float):
                assert gv == pytest.approx(wv, rel=1e-9, abs=1e-9), (
                    f"{qname} row {i}: {gv!r} != {wv!r}\nspark={g}\noracle={w}"
                )
            else:
                assert gv == wv, f"{qname} row {i}: {gv!r} != {wv!r}"


# ids as a list: with no reference checkout the list is empty, and an
# ids callable would receive pytest's empty-set placeholder and raise
@pytest.mark.parametrize(
    "path", _queries(), ids=[os.path.basename(p)[:-4] for p in _queries()]
)
def test_verbatim_reference_sql_value_parity(spark_tpch, duck_tpch, path):
    text = _read(path)
    qname = os.path.basename(path)[:-4]
    got = [tuple(r) for r in spark_tpch.sql(text).collect()]
    want = duck_tpch.execute(text).fetchall()
    assert len(want) > 0, f"{qname}: oracle returned no rows — fixture too small"
    _assert_rows_equal(got, want, qname)


def test_generator_referential_consistency(spark_tpch):
    """Every lineitem (partkey, suppkey) pair exists in partsupp (the
    dbgen invariant q9 relies on), and each part has 4 distinct
    suppliers."""
    missing = spark_tpch.sql(
        """
        select count(*) as n from lineitem l left anti join partsupp ps
        on l.l_partkey = ps.ps_partkey and l.l_suppkey = ps.ps_suppkey
        """
    ).collect()[0]["n"]
    assert missing == 0
    bad = spark_tpch.sql(
        """
        select ps_partkey from partsupp group by ps_partkey
        having count(distinct ps_suppkey) <> 4
        """
    ).count()
    assert bad == 0


def test_q15_spec_text_full_schema(spark_tpch, duck_tpch):
    """q15 — the one TPC-H query the reference corpus omits (SURVEY.md
    §5) — run as the public spec text (CREATE VIEW + max-revenue scalar
    subquery) on the full schema, Spark vs DuckDB, completing value
    coverage of all 22 queries."""
    rev = """
select l_suppkey as supplier_no,
       sum(l_extendedprice * (1 - l_discount)) as total_revenue
from lineitem
where l_shipdate >= date '1996-01-01'
  and l_shipdate < date '1996-04-01'
group by l_suppkey
"""
    q = """
select s_suppkey, s_name, s_address, s_phone, total_revenue
from supplier, revenue0
where s_suppkey = supplier_no
  and total_revenue = (select max(total_revenue) from revenue0)
order by s_suppkey
"""
    spark_tpch.sql("DROP VIEW IF EXISTS revenue0")
    spark_tpch.sql(f"CREATE TEMPORARY VIEW revenue0 AS {rev}")
    got = [tuple(r) for r in spark_tpch.sql(q).collect()]
    duck_tpch.execute(f"create or replace view revenue0 as {rev}")
    want = duck_tpch.execute(q).fetchall()
    assert len(want) > 0
    _assert_rows_equal(got, want, "q15")
