"""Retired operator-coverage names vs DuckDB oracle.

The fine-grained coverage corpus is folded into the 13 graded entries
(queries/graded.py) and the TPC-H queries.  Each retired name keeps its
smoke test here as an executable audit: it compares, against the DuckDB
oracle, the branch of the entry that now checks that behaviour, and
asserts the branch produced rows at smoke scale.  Each entry runs once
per session; the full-scale checks live in test_graded.py/test_tpch.py."""

from __future__ import annotations

import pytest

from ballista_spark.queries.graded import GRADED_COVERAGE
from ballista_spark.queries.tpch import TPCH_QUERIES
from tests.conftest import SF_SMOKE, assert_pandas_match

ENTRIES = {**TPCH_QUERIES, **GRADED_COVERAGE}

#: tag column of each tagged graded entry ("op" unless listed)
TAG_COL = {"cov_agg_family": "grp", "cov_join_types": "join_type"}

#: retired name -> ((entry, tag values of its branch, None = whole entry), ...)
#: cov_approx_distinct is not kept: its branch is cov_sketch_sampling
#: 'hll', whose ~9 min smoke run test_graded.py already makes in the
#: full tier.
RETIRED = {
    "cov_agg_basic": (("cov_agg_family", ("orders:F", "orders:O", "orders:P")),),
    "cov_agg_global": (("cov_agg_family", ("lineitem:ALL",)),),
    "cov_asof_join": (("cov_interval_joins", ("asof",)),),
    "cov_case_cast": (("cov_case_cast_misc", None),),
    "cov_cube": (("cov_grouping_pivot", ("cube",)),),
    "cov_datetime": (("cov_temporal_json", None),),
    "cov_distinct": (("cov_setops_repart", ("distinct",)),),
    "cov_empty_relation": (("cov_setops_repart", ("empty",)),),
    "cov_events_json": (("cov_temporal_json", None),),
    "cov_funnel": (("cov_events_analytics", ("funnel",)),),
    "cov_grouping_sets": (("cov_grouping_pivot", ("gsets",)),),
    "cov_in_subquery": (("tpch_q20", None), ("tpch_q16", None)),
    "cov_join_anti": (("cov_join_types", ("anti",)),),
    "cov_join_cross": (("cov_join_types", ("cross",)),),
    "cov_join_full": (("cov_join_types", ("full",)),),
    "cov_join_inner": (("cov_join_types", ("inner",)),),
    "cov_join_left": (("cov_join_types", ("left",)),),
    "cov_join_right": (("cov_join_types", ("right",)),),
    "cov_join_semi": (("cov_join_types", ("semi",)),),
    "cov_limit_offset": (("cov_setops_repart", ("page",)),),
    "cov_nullif": (("cov_case_cast_misc", None),),
    "cov_percentile": (
        ("cov_agg_family", ("li:A", "li:N", "li:R", "lineitem:ALL")),
    ),
    "cov_pivot": (("cov_grouping_pivot", ("pivot",)),),
    "cov_predicates": (("cov_agg_family", ("pred:orders",)),),
    "cov_range_join": (("cov_interval_joins", ("range",)),),
    "cov_repartition_hash": (("cov_setops_repart", ("repart_hash",)),),
    "cov_repartition_roundrobin": (("cov_setops_repart", ("repart_rr",)),),
    "cov_retention": (("cov_events_analytics", ("retention",)),),
    "cov_rollup": (("cov_grouping_pivot", ("rollup",)),),
    "cov_scalar_hash": (("cov_string_hash_funcs", None),),
    "cov_scalar_math": (("cov_math_funcs", None),),
    "cov_scalar_string": (("cov_string_hash_funcs", None),),
    "cov_scalar_subquery": (("tpch_q22", None), ("tpch_q11", None)),
    "cov_select_filter": (("cov_setops_repart", ("select",)),),
    "cov_sessionize_batch": (("cov_interval_joins", ("sessions",)),),
    "cov_setops_except": (("cov_setops_repart", ("except",)),),
    "cov_setops_intersect": (("cov_setops_repart", ("intersect",)),),
    "cov_setops_union": (("cov_setops_repart", ("union",)),),
    "cov_setops_union_all": (("cov_setops_repart", ("union_all",)),),
    "cov_sort_limit": (("cov_setops_repart", ("sort_limit",)),),
    "cov_string_advanced": (("cov_string_hash_funcs", None),),
    "cov_union_by_name": (("cov_setops_repart", ("union_all",)),),
    "cov_window_agg": (("cov_window_family", ("agg", "agg_api")),),
    "cov_window_distribution": (("cov_window_family", ("dist",)),),
    "cov_window_rank": (("cov_window_family", ("rank", "rank_api")),),
}

_RESULTS: dict = {}


def _smoke_result(spark, duck, entry: str):
    """(Spark rows, oracle rows) of one entry at smoke scale, cached."""
    if entry not in _RESULTS:
        q = ENTRIES[entry]
        got = q.run(spark, SF_SMOKE).toPandas()
        duck.execute("SET schema 'smoke'")
        _RESULTS[entry] = (got, duck.sql(q.oracle_text()).df())
    return _RESULTS[entry]


@pytest.mark.parametrize("name", sorted(RETIRED))
def test_coverage_smoke_scale(spark, duck, name):
    for entry, tags in RETIRED[name]:
        got, want = _smoke_result(spark, duck, entry)
        if tags is not None:
            col = TAG_COL.get(entry, "op")
            got = got[got[col].isin(tags)].copy()
            want = want[want[col].isin(tags)].copy()
            assert set(got[col]) == set(tags), f"{entry}: branches {tags}"
        assert len(got), f"{entry} returned no rows at smoke scale"
        assert_pandas_match(got, want)
