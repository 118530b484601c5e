"""SQL DML router (ballista_spark.dml): grammar parsing and end-to-end
DELETE/UPDATE/MERGE/VACUUM/OPTIMIZE through ``ctx.sql`` against Delta
and Iceberg tables registered in the context — one SQL surface for
queries and mutations.
"""

from __future__ import annotations

import datetime

import pytest

from pyspark.errors import ParseException

from ballista_spark.dml import DmlError, parse_dml
from ballista_spark.sources.rewrite import _sql_text, provable_conjuncts


def _sql(cols: dict) -> dict:
    return {k: _sql_text(v) for k, v in cols.items()}


# ------------------------------------------------------------------ parser


def test_where_triples_grammar(spark):
    """A WHERE predicate is any Spark SQL; its provable top-level
    conjuncts come back as the storage layer's (col, op, value)
    triples."""

    def triples(where):
        return provable_conjuncts(parse_dml(f"DELETE FROM t WHERE {where}").where)

    assert triples("id >= 100 AND cat = 'x''y' AND v <> 2.5") == [
        ("id", ">=", 100),
        ("cat", "=", "x'y"),
        ("v", "!=", 2.5),
    ]
    assert triples("d = DATE '2024-01-31'") == [
        ("d", "=", datetime.date(2024, 1, 31))
    ]
    assert triples("b = TRUE AND x IS NULL") == [
        ("b", "=", True),
        ("x", "is_null", None),
    ]
    # predicates beyond the proof language parse; they prune nothing
    for broad in ("a = b", "a LIKE 'x%'", "a = 1 OR b = 2", "a IN (1, 2)"):
        assert triples(broad) == []
    assert triples("NOT a = 1") == [("a", "!=", 1)]
    assert triples("5 < id AND upper(cat) = 'X'") == [("id", ">", 5)]


def test_parse_dml_non_dml_passthrough():
    for q in (
        "SELECT * FROM t",
        "WITH x AS (SELECT 1) SELECT * FROM x",
        "  select delete_col from t",
        "EXPLAIN SELECT 1",
    ):
        assert parse_dml(q) is None


def test_parse_delete_update(spark):
    s = parse_dml("DELETE FROM t WHERE id < 5;")
    assert s.op == "delete" and s.table == "t" and _sql_text(s.where) == "(id < 5)"
    s = parse_dml(
        "UPDATE t SET v = v * 2, cat = concat(cat, ',x') WHERE id = 1"
    )
    assert s.op == "update"
    # the comma inside concat(...) must not split the SET list
    assert _sql(s.set_exprs) == {"v": "(v * 2)", "cat": "concat(cat, ',x')"}
    assert _sql_text(s.where) == "(id = 1)"
    s = parse_dml("UPDATE t SET v = 0")
    assert s.where is None
    # a quoted ' WHERE ' inside a SET expression must not split
    s = parse_dml("UPDATE t SET cat = concat(cat, ' WHERE x') WHERE id = 1")
    assert _sql(s.set_exprs) == {"cat": "concat(cat, ' WHERE x')"}
    assert _sql_text(s.where) == "(id = 1)"
    s = parse_dml("DELETE FROM t WHERE id IN (1,2)")
    assert _sql_text(s.where) == "(id IN (1, 2))"
    with pytest.raises(ParseException):
        parse_dml("DELETE FROM t WHERE id IN (1,")


def test_parse_merge_variants(spark):
    s = parse_dml(
        "MERGE INTO t AS d USING src AS s ON d.id = s.id AND d.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert (s.op, s.table, s.target_alias, s.source_alias) == (
        "merge", "t", "d", "s"
    )
    assert "UnresolvedRelation [src]" in s.source.toString()
    assert s.on == ["id", "k"]
    assert s.when_matched == "update" and s.insert_not_matched
    s = parse_dml(
        "MERGE INTO t USING (SELECT * FROM s WHERE v > 0) ON t.id = id "
        "WHEN MATCHED THEN DELETE"
    )
    assert s.source.getClass().getSimpleName() == "Project"
    assert s.source_alias == "__src" and s.when_matched == "delete"
    assert not s.insert_not_matched
    # nested parens inside the subquery stay inside the source plan
    s = parse_dml(
        "MERGE INTO t USING (SELECT id, coalesce(v, 0.0) v FROM s "
        "WHERE abs(v) > 0) ON t.id = id WHEN MATCHED THEN DELETE"
    )
    assert "Filter ('abs('v) > 0)" in s.source.toString() and s.on == ["id"]
    with pytest.raises(DmlError, match="share one name"):
        parse_dml(
            "MERGE INTO t USING s ON t.a = s.b WHEN MATCHED THEN DELETE"
        )
    # explicit SET is part of the grammar since round 8
    s = parse_dml(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = 1"
    )
    assert _sql(s.matched_set) == {"v": "1"}
    with pytest.raises(ParseException):
        parse_dml(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN RENAME"
        )


def test_parse_maintenance():
    s = parse_dml("VACUUM t RETAIN 0 HOURS")
    assert (s.op, s.retain_hours) == ("vacuum", 0.0)
    assert parse_dml("VACUUM t").retain_hours is None
    s = parse_dml("OPTIMIZE t ZORDER BY (a, b)")
    assert (s.op, s.zorder_by) == ("optimize", ["a", "b"])
    assert parse_dml("OPTIMIZE t").zorder_by == []


# -------------------------------------------------------------- end-to-end


def _ctx(spark):
    from ballista_spark.context import BallistaContext

    return BallistaContext(spark=spark)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_sql_dml_end_to_end(spark, tmp_path, fmt):
    ctx = _ctx(spark)
    path = str(tmp_path / fmt)
    df = spark.createDataFrame(
        [(i, "c", float(i)) for i in range(20)], "id long, cat string, v double"
    )
    if fmt == "delta":
        from ballista_spark.sources.deltalog import write_delta_table

        write_delta_table(df, path)
        ctx.register_delta("t", path)
    else:
        from ballista_spark.sources.iceberg import write_iceberg_table

        write_iceberg_table(df, path)
        ctx.register_iceberg("t", path)

    # UPDATE, then read through the SAME sql surface (view refreshed)
    out = ctx.sql("UPDATE t SET v = v + 100 WHERE id < 3").df.collect()[0]
    assert out["operation"] == "update" and out["version"] is not None
    got = {r["id"]: r["v"] for r in ctx.sql("SELECT id, v FROM t").df.collect()}
    assert got[0] == 100.0 and got[2] == 102.0 and got[3] == 3.0

    # DELETE
    ctx.sql("DELETE FROM t WHERE id >= 15")
    assert ctx.sql("SELECT count(*) c FROM t").df.collect()[0]["c"] == 15

    # MERGE from a subquery source
    src = spark.createDataFrame(
        [(1, "m", -1.0), (99, "new", 99.0)], "id long, cat string, v double"
    )
    src.createOrReplaceTempView("src")
    ctx.sql(
        "MERGE INTO t USING src ON t.id = src.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["id"]: (r["cat"], r["v"]) for r in ctx.sql("SELECT * FROM t").df.collect()}
    assert got[1] == ("m", -1.0) and got[99] == ("new", 99.0)
    assert len(got) == 16

    # INSERT INTO with a VALUES query — positional alignment + casts
    ctx.sql("INSERT INTO t VALUES (500, 'ins', 5), (501, 'ins', 6)")
    got = {r["id"]: r["v"] for r in ctx.sql(
        "SELECT id, v FROM t WHERE cat = 'ins'"
    ).df.collect()}
    assert got == {500: 5.0, 501: 6.0}  # ints cast to the double column
    with pytest.raises(DmlError, match="column count"):
        ctx.sql("INSERT INTO t VALUES (1, 'x')")

    # OPTIMIZE compacts without changing rows
    ctx.sql("OPTIMIZE t")
    assert ctx.sql("SELECT count(*) c FROM t").df.collect()[0]["c"] == 18

    # VACUUM runs (age-gated: nothing young enough to reap is an OK 0)
    out = ctx.sql("VACUUM t RETAIN 168 HOURS").df.collect()[0]
    assert out["operation"] == "vacuum" and out["version"] >= 0


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_qualified_names_in_delete_and_update(spark, tmp_path, monkeypatch, fmt):
    """Columns qualified by the target's alias, or by its own name when
    it has none, resolve and prune: each statement leaves the same rows
    as its unqualified form run on a twin table, its stats prune sees
    the unqualified conjunct, and it rewrites only the one candidate
    file that holds the id."""
    from ballista_spark.sources import deltalog, iceberg

    mod = deltalog if fmt == "delta" else iceberg
    ctx = _ctx(spark)
    chunks = [[(i, "c", i, "a") for i in (j, j + 1)] for j in (0, 2, 4)]
    paths = {t: str(tmp_path / t) for t in ("tq", "tu")}
    for t, path in paths.items():
        _register(ctx, spark, fmt, t, path, chunks)

    seen = _record_may_match(monkeypatch, mod)
    for qualified, plain, conj in [
        ("DELETE FROM tq AS x WHERE x.id = 1", "DELETE FROM tu WHERE id = 1", 1),
        ("DELETE FROM tq WHERE tq.id = 2", "DELETE FROM tu WHERE id = 2", 2),
        (
            "UPDATE tq AS x SET v = x.v + 1 WHERE x.id = 3",
            "UPDATE tu SET v = v + 1 WHERE id = 3",
            3,
        ),
    ]:
        for stmt, t in ((qualified, "tq"), (plain, "tu")):
            before = _live(spark, mod, paths[t])
            ctx.sql(stmt)
            removed = before - _live(spark, mod, paths[t])
            ((got_conj, cands),) = seen
            seen.clear()
            assert got_conj == [("id", "=", conj)], stmt
            assert len(cands) == 1 and removed == cands, stmt
        got, want = (
            sorted(map(tuple, ctx.sql(f"SELECT * FROM {t}").df.collect()))
            for t in ("tq", "tu")
        )
        assert got == want, qualified
    assert [r[0] for r in got] == [0, 3, 4, 5] and got[1][2] == 4


def test_create_external_table_sql(spark, tmp_path):
    """The reference's exact DDL text (ballista.proto:236-248) through
    ctx.sql: CSV with schema/header/delimiter, parquet, and a DELTA
    table that immediately becomes a DML target."""
    import os

    from ballista_spark.dml import parse_dml

    s = parse_dml(
        "CREATE EXTERNAL TABLE t (a INT, b STRING) STORED AS CSV "
        "WITH HEADER ROW DELIMITER '|' LOCATION '/x/y'"
    )
    assert (s.op, s.table, s.file_type) == ("create_external", "t", "csv")
    assert s.columns.simpleString() == "struct<a:int,b:string>"
    assert s.has_header and s.delimiter == "|" and s.location == "/x/y"
    # the reference's Arrow names and aliases resolve like register_csv's
    s = parse_dml(
        "CREATE EXTERNAL TABLE t (a int64, b utf8, c u64, d decimal(10, 2), "
        "e struct<x: int, y: string>) STORED AS CSV LOCATION '/x/y'"
    )
    assert s.columns.simpleString() == (
        "struct<a:bigint,b:string,c:decimal(20,0),d:decimal(10,2),"
        "e:struct<x:int,y:string>>"
    )
    assert parse_dml("SELECT 1") is None

    ctx = _ctx(spark)
    # CSV leg with the reference options
    p = str(tmp_path / "c.csv")
    with open(p, "w") as f:
        f.write("a|b\n1|x\n2|y\n")
    ctx.sql(
        f"CREATE EXTERNAL TABLE ext_csv (a INT, b STRING) STORED AS CSV "
        f"WITH HEADER ROW DELIMITER '|' LOCATION '{p}'"
    )
    assert ctx.sql("SELECT sum(a) s FROM ext_csv").df.collect()[0]["s"] == 3
    ctx.sql(
        f"CREATE EXTERNAL TABLE ext_arrow (a int64, b utf8) STORED AS CSV "
        f"WITH HEADER ROW DELIMITER '|' LOCATION '{p}'"
    )
    got = ctx.sql("SELECT * FROM ext_arrow").df
    assert got.schema.simpleString() == "struct<a:bigint,b:string>"
    assert sorted(map(tuple, got.collect())) == [(1, "x"), (2, "y")]
    # DELTA leg registers as a mutable DML target in one statement
    from ballista_spark.sources.deltalog import write_delta_table

    dpath = str(tmp_path / "d")
    write_delta_table(
        spark.createDataFrame([(1, "a")], "id long, cat string"), dpath
    )
    ctx.sql(f"CREATE EXTERNAL TABLE ext_d STORED AS DELTA LOCATION '{dpath}'")
    ctx.sql("UPDATE ext_d SET cat = 'z' WHERE id = 1")
    assert ctx.sql("SELECT cat FROM ext_d").df.collect()[0]["cat"] == "z"
    # parquet leg
    pq = str(tmp_path / "p")
    spark.range(5).write.parquet(pq)
    ctx.sql(f"CREATE EXTERNAL TABLE ext_p STORED AS PARQUET LOCATION '{pq}'")
    assert ctx.sql("SELECT count(*) c FROM ext_p").df.collect()[0]["c"] == 5


def test_sql_dml_unregistered_table(spark):
    ctx = _ctx(spark)
    with pytest.raises(DmlError, match="not a registered"):
        ctx.sql("DELETE FROM nowhere WHERE id = 1")


def test_insert_only_merge_leaves_matched_rows_alone(spark, tmp_path):
    """WHEN NOT MATCHED THEN INSERT * with no matched clause must NOT
    touch matched target rows (review finding: it silently updated)."""
    from ballista_spark.dml import parse_dml
    from ballista_spark.sources.deltalog import write_delta_table

    s = parse_dml(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert s.when_matched == "skip" and s.insert_not_matched

    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(1, "keep")], "id long, cat string"), path
    )
    ctx.register_delta("t_io", path)
    spark.createDataFrame(
        [(1, "CLOBBER"), (2, "new")], "id long, cat string"
    ).createOrReplaceTempView("src_io")
    ctx.sql(
        "MERGE INTO t_io USING src_io ON t_io.id = src_io.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["id"]: r["cat"] for r in ctx.sql("SELECT * FROM t_io").df.collect()}
    assert got == {1: "keep", 2: "new"}  # matched row untouched


def test_non_lakehouse_alter_and_insert_pass_through(spark):
    """Statements under ALTER/INSERT heads that the walker does not
    route fall through to Spark SQL instead of raising (review
    finding: ALTER VIEW regressed), as do INSERT/ALTER naming a table
    outside the registered lakehouse tables; an unconditional DELETE
    still raises (Spark can never run it on a temp view anyway)."""
    from ballista_spark.dml import parse_dml

    assert parse_dml("ALTER VIEW v AS SELECT 1") is None
    assert parse_dml("INSERT INTO t SELECT 1", lakehouse={}) is None
    s = parse_dml("INSERT INTO t (c1, c2) SELECT 1, 2")
    assert s.insert_columns == ["c1", "c2"]
    # parenthesized query, NOT a column list
    s2 = parse_dml("INSERT INTO t (SELECT 1, 2)")
    assert s2.insert_columns is None
    with pytest.raises(DmlError, match="needs a WHERE"):
        parse_dml("DELETE FROM t")  # an unconditional DELETE refuses


def test_reregistering_name_revokes_dml_binding(spark, tmp_path):
    """Re-registering a lakehouse name as a plain view must revoke the
    DML binding (review finding: stale entries mutated the OLD table
    behind the new view)."""
    from ballista_spark.sources.deltalog import write_delta_table

    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(1, "a")], "id long, cat string"), path
    )
    ctx.register_delta("t_rv", path)
    ctx.register_table("t_rv", spark.range(3))
    with pytest.raises(DmlError, match="not a registered"):
        ctx.sql("DELETE FROM t_rv WHERE id = 1")
    # consecutive DMLs keep the binding (the refresh re-adds it)
    ctx.register_delta("t_rv", path)
    ctx.sql("UPDATE t_rv SET cat = 'x' WHERE id = 1")
    ctx.sql("UPDATE t_rv SET cat = 'y' WHERE id = 1")
    assert ctx.sql("SELECT cat FROM t_rv").df.collect()[0]["cat"] == "y"


def test_pinned_version_registration_is_read_only(spark, tmp_path):
    from ballista_spark.sources.deltalog import write_delta_table

    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(1, "a")], "id long, cat string"), path
    )
    write_delta_table(
        spark.createDataFrame([(2, "b")], "id long, cat string"), path
    )
    ctx.register_delta("t_pin", path, version=0)
    assert ctx.sql("SELECT count(*) c FROM t_pin").df.collect()[0]["c"] == 1
    with pytest.raises(DmlError, match="not a registered"):
        ctx.sql("DELETE FROM t_pin WHERE id = 1")


def test_insert_and_alter_on_catalog_table_pass_through(spark):
    """A parseable INSERT/ALTER naming a table that is NOT a registered
    lakehouse table is genuine Spark SQL (catalog tables) — ctx.sql must
    pass it through rather than raising DmlError (review finding: the
    router hijacked every unqualified INSERT/ALTER it could parse)."""
    ctx = _ctx(spark)
    spark.sql("DROP TABLE IF EXISTS ins_passthrough")
    spark.sql("CREATE TABLE ins_passthrough (id bigint) USING parquet")
    try:
        ctx.sql("INSERT INTO ins_passthrough SELECT 5")
        ctx.sql("ALTER TABLE ins_passthrough ADD COLUMNS (x bigint)")
        got = ctx.sql("SELECT * FROM ins_passthrough").df.collect()
        assert [(r["id"], r["x"]) for r in got] == [(5, None)]
    finally:
        spark.sql("DROP TABLE IF EXISTS ins_passthrough")


# --------------------------------------------- round-8 router ergonomics


def test_parse_merge_clause_conditions_and_set(spark):
    s = parse_dml(
        "MERGE INTO t AS tgt USING src AS s ON tgt.id = s.id "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET cat = s.cat, "
        "v = tgt.v + s.v "
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *"
    )
    assert s.op == "merge" and s.on == ["id"]
    assert s.when_matched == "update" and s.insert_not_matched
    assert _sql_text(s.matched_condition) == "(s.op = 'U')"
    assert _sql_text(s.not_matched_condition) == "(NOT (s.op = 'D'))"
    assert _sql(s.matched_set) == {"cat": "s.cat", "v": "(tgt.v + s.v)"}
    assert s.target_alias == "tgt" and s.source_alias == "s"

    d = parse_dml(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.stale THEN DELETE"
    )
    assert d.when_matched == "delete"
    assert _sql_text(d.matched_condition) == "s.stale"
    assert d.matched_set is None

    with pytest.raises(DmlError, match="at most one WHEN MATCHED"):
        parse_dml(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED AND a THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(ParseException):
        parse_dml(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET == 1"
        )
    with pytest.raises(DmlError, match="assigned twice"):
        parse_dml(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = 1, v = 2"
        )


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_conditional_update_set_end_to_end(spark, tmp_path, fmt):
    """WHEN MATCHED AND cond THEN UPDATE SET c = expr: only matched
    rows passing the condition change, and only the SET columns; other
    matched rows stay byte-identical; NOT MATCHED AND cond gates
    inserts."""
    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, cat string, v double",
    )
    if fmt == "delta":
        from ballista_spark.sources.deltalog import write_delta_table

        write_delta_table(target, path)
        ctx.register_delta("t_c8", path)
    else:
        from ballista_spark.sources.iceberg import write_iceberg_table

        write_iceberg_table(target, path)
        ctx.register_iceberg("t_c8", path)
    spark.createDataFrame(
        [(1, "A", 100.0, "U"), (2, "B", 200.0, "skip"),
         (4, "D", 400.0, "I"), (5, "E", 500.0, "no")],
        "id long, cat string, v double, op string",
    ).createOrReplaceTempView("src_c8")

    ctx.sql(
        "MERGE INTO t_c8 AS tgt USING (SELECT * FROM src_c8) AS s "
        "ON tgt.id = s.id "
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v + tgt.v "
        "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT *"
    )
    got = {
        r["id"]: (r["cat"], r["v"])
        for r in ctx.sql("SELECT * FROM t_c8").df.collect()
    }
    assert got == {
        1: ("a", 110.0),   # matched + cond: ONLY v updated (cat kept)
        2: ("b", 20.0),    # matched, cond false: untouched
        3: ("c", 30.0),    # unmatched target: untouched
        4: ("D", 400.0),   # not matched + cond: inserted
        # id=5 filtered by the NOT MATCHED condition
    }


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_conditional_delete_end_to_end(spark, tmp_path, fmt):
    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, cat string"
    )
    if fmt == "delta":
        from ballista_spark.sources.deltalog import write_delta_table

        write_delta_table(target, path)
        ctx.register_delta("t_d8", path)
    else:
        from ballista_spark.sources.iceberg import write_iceberg_table

        write_iceberg_table(target, path)
        ctx.register_iceberg("t_d8", path)
    spark.createDataFrame(
        [(1, "x"), (2, "DEL"), (3, "DEL")], "id long, cat string"
    ).createOrReplaceTempView("src_d8")
    ctx.sql(
        "MERGE INTO t_d8 USING src_d8 ON t_d8.id = src_d8.id "
        "WHEN MATCHED AND src_d8.cat = 'DEL' THEN DELETE"
    )
    got = sorted(
        r["id"] for r in ctx.sql("SELECT * FROM t_d8").df.collect()
    )
    assert got == [1]  # 2 and 3 deleted; 1 matched but cond false


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_insert_column_list_end_to_end(spark, tmp_path, fmt):
    """INSERT INTO t (c1, c2) <query>: query columns align to the
    names, unlisted columns fill NULL."""
    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    target = spark.createDataFrame(
        [(1, "a", 1.5)], "id long, cat string, v double"
    )
    if fmt == "delta":
        from ballista_spark.sources.deltalog import write_delta_table

        write_delta_table(target, path)
        ctx.register_delta("t_i8", path)
    else:
        from ballista_spark.sources.iceberg import write_iceberg_table

        write_iceberg_table(target, path)
        ctx.register_iceberg("t_i8", path)
    ctx.sql("INSERT INTO t_i8 (v, id) SELECT 9.5, 9")
    got = sorted(
        (r["id"], r["cat"], r["v"])
        for r in ctx.sql("SELECT * FROM t_i8").df.collect()
    )
    assert got == [(1, "a", 1.5), (9, None, 9.5)]
    with pytest.raises(DmlError, match="not in table schema"):
        ctx.sql("INSERT INTO t_i8 (nope) SELECT 1")
    with pytest.raises(DmlError, match="column list has"):
        ctx.sql("INSERT INTO t_i8 (id, v) SELECT 1")


def test_parse_merge_case_when_in_set_and_condition(spark):
    """CASE WHEN inside a SET expression or clause condition must not
    truncate the clause (review finding: the boundary lookahead stopped
    at ANY 'WHEN'/'THEN' token)."""
    s = parse_dml(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN s.x > 0 THEN 1 ELSE 0 END"
    )
    assert _sql(s.matched_set) == {"v": "CASE WHEN (s.x > 0) THEN 1 ELSE 0 END"}
    s2 = parse_dml(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.x > 0 THEN 1 ELSE 0 END = 1 "
        "THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert (
        _sql_text(s2.matched_condition)
        == "(CASE WHEN (s.x > 0) THEN 1 ELSE 0 END = 1)"
    )
    assert s2.when_matched == "delete" and s2.insert_not_matched


def test_parse_alter_rename_column(spark):
    s = parse_dml("ALTER TABLE t RENAME COLUMN cat TO label;")
    assert s.op == "alter" and s.table == "t"
    assert (s.rename_from, s.rename_to) == ("cat", "label")
    assert not s.add_columns and not s.drop_columns


def test_sql_rename_column_end_to_end_delta(spark, tmp_path):
    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    from ballista_spark.sources.deltalog import write_delta_table

    write_delta_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, cat string"),
        path,
    )
    ctx.register_delta("t", path)
    out = ctx.sql("ALTER TABLE t RENAME COLUMN cat TO label").df.collect()[0]
    assert out["operation"] == "alter"
    got = {r["id"]: r["label"] for r in ctx.sql("SELECT * FROM t").df.collect()}
    assert got == {1: "a", 2: "b"}
    # and the renamed table still mutates through the router
    ctx.sql("UPDATE t SET label = 'z' WHERE id = 2")
    got = {r["id"]: r["label"] for r in ctx.sql("SELECT * FROM t").df.collect()}
    assert got == {1: "a", 2: "z"}


def test_sql_rename_column_iceberg(spark, tmp_path):
    """Round 10 replaced the Iceberg rename refusal with field-id
    binding: the router now renames as a metadata-only commit and the
    renamed table keeps reading + mutating."""
    ctx = _ctx(spark)
    path = str(tmp_path / "ice")
    from ballista_spark.sources.iceberg import write_iceberg_table

    write_iceberg_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, cat string"),
        path,
    )
    ctx.register_iceberg("t", path)
    out = ctx.sql("ALTER TABLE t RENAME COLUMN cat TO label").df.collect()[0]
    assert out["operation"] == "alter"
    got = {r["id"]: r["label"] for r in ctx.sql("SELECT * FROM t").df.collect()}
    assert got == {1: "a", 2: "b"}
    ctx.sql("UPDATE t SET label = 'z' WHERE id = 2")
    got = {r["id"]: r["label"] for r in ctx.sql("SELECT * FROM t").df.collect()}
    assert got == {1: "a", 2: "z"}


def test_parse_set_unset_tblproperties(spark):
    s = parse_dml(
        "ALTER TABLE t SET TBLPROPERTIES ('delta.appendOnly' = 'true', "
        "'owner' = 'a''b')"
    )
    assert s.op == "alter" and s.table == "t"
    assert s.set_properties == {"delta.appendOnly": "true", "owner": "a'b"}
    s = parse_dml("ALTER TABLE t UNSET TBLPROPERTIES ('delta.appendOnly')")
    assert s.unset_properties == ["delta.appendOnly"]
    # the keys Spark reserves for its catalog tables are a lakehouse
    # table's own; on any other table Spark's refusal stands
    s = parse_dml("ALTER TABLE t UNSET TBLPROPERTIES ('owner', 'location')")
    assert s.unset_properties == ["owner", "location"]
    assert parse_dml(
        "ALTER TABLE t SET TBLPROPERTIES ('owner' = 'x')", lakehouse={}
    ) is None
    with pytest.raises(ParseException, match="reserved"):
        _ctx(spark).sql("ALTER TABLE other SET TBLPROPERTIES ('owner' = 'x')")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_sql_reserved_tblproperty_end_to_end(spark, tmp_path, fmt):
    """'owner' — a key Spark's parser reserves for its catalog tables —
    sets and unsets on a registered lakehouse table through ctx.sql."""
    from ballista_spark.sources import deltalog, iceberg

    ctx = _ctx(spark)
    path = str(tmp_path / fmt)
    df = spark.createDataFrame([(1,)], "id long")
    if fmt == "delta":
        deltalog.write_delta_table(df, path)
        ctx.register_delta("t", path)

        def props():
            return deltalog.read_delta_snapshot(path).configuration
    else:
        iceberg.write_iceberg_table(df, path)
        ctx.register_iceberg("t", path)

        def props():
            return iceberg._load_metadata(path)[1]["properties"]
    ctx.sql("ALTER TABLE t SET TBLPROPERTIES ('owner' = 'a''b')")
    assert props()["owner"] == "a'b"
    ctx.sql("ALTER TABLE t UNSET TBLPROPERTIES ('owner')")
    assert "owner" not in props()


def test_sql_tblproperties_feature_backed_end_to_end(spark, tmp_path):
    """SET TBLPROPERTIES makes the table's contracts REAL: appendOnly
    refuses row removals through this engine's own gate, the protocol
    carries the requirement for other writers, and UNSET restores."""
    from ballista_spark.sources.deltalog import (
        DeltaProtocolError,
        read_delta_snapshot,
        write_delta_table,
    )

    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "id long, v double"),
        path,
    )
    ctx.register_delta("t", path)
    ctx.sql("ALTER TABLE t SET TBLPROPERTIES ('delta.appendOnly' = 'true')")
    snap = read_delta_snapshot(path)
    assert snap.configuration["delta.appendOnly"] == "true"
    with pytest.raises(DeltaProtocolError, match="append-only"):
        ctx.sql("DELETE FROM t WHERE id = 1")
    # appends stay legal; INSERT routes through the same surface
    ctx.sql("INSERT INTO t SELECT 10 as id, 10.0 as v")
    assert ctx.sql("SELECT count(*) c FROM t").df.collect()[0]["c"] == 7
    ctx.sql("ALTER TABLE t UNSET TBLPROPERTIES ('delta.appendOnly')")
    ctx.sql("DELETE FROM t WHERE id = 1")
    assert ctx.sql("SELECT count(*) c FROM t").df.collect()[0]["c"] == 6

    # CDF property upgrades the protocol's writer requirement
    ctx.sql(
        "ALTER TABLE t SET TBLPROPERTIES "
        "('delta.enableChangeDataFeed' = 'true')"
    )
    snap = read_delta_snapshot(path)
    assert int(snap.protocol["minWriterVersion"]) >= 4
    with pytest.raises(DeltaProtocolError, match="cdc"):
        ctx.sql("UPDATE t SET v = 0 WHERE id = 2")


def test_sql_tblproperties_column_mapping_refused(spark, tmp_path):
    from ballista_spark.sources.deltalog import write_delta_table

    ctx = _ctx(spark)
    path = str(tmp_path / "t")
    write_delta_table(spark.createDataFrame([(1,)], "id long"), path)
    ctx.register_delta("t", path)
    with pytest.raises(ValueError, match="enable_column_mapping"):
        ctx.sql(
            "ALTER TABLE t SET TBLPROPERTIES "
            "('delta.columnMapping.mode' = 'name')"
        )


def test_sql_tblproperties_iceberg_round_trip(spark, tmp_path):
    from ballista_spark.sources.iceberg import (
        _load_metadata,
        write_iceberg_table,
    )

    ctx = _ctx(spark)
    path = str(tmp_path / "ice")
    write_iceberg_table(spark.createDataFrame([(1,)], "id long"), path)
    ctx.register_iceberg("t", path)
    ctx.sql(
        "ALTER TABLE t SET TBLPROPERTIES ('commit.retry.num-retries'='7')"
    )
    assert _load_metadata(path)[1]["properties"][
        "commit.retry.num-retries"
    ] == "7"
    ctx.sql("ALTER TABLE t UNSET TBLPROPERTIES ('commit.retry.num-retries')")
    assert "commit.retry.num-retries" not in _load_metadata(path)[1]["properties"]


def test_sql_delete_uses_dv_when_property_set(spark, tmp_path):
    """Round 10: `delta.enableDeletionVectors=true` routes plain SQL
    DELETE through the zero-rewrite DV shape (the delta-spark
    behavior); without the property SQL DELETE stays copy-on-write."""
    import glob as _glob
    import os

    from ballista_spark.sources.deltalog import (
        read_delta_snapshot,
        set_delta_table_properties,
        write_delta_table,
    )

    ctx = _ctx(spark)
    path = str(tmp_path / "dvt")
    write_delta_table(
        spark.createDataFrame(
            [(i, f"c{i}") for i in range(10)], "id long, cat string"
        ).coalesce(1),
        path,
    )
    set_delta_table_properties(
        path, {"delta.enableDeletionVectors": "true"}
    )
    files_before = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    ctx.register_delta("t", path)
    ctx.sql("DELETE FROM t WHERE id < 3")
    # zero data bytes rewritten; the add carries a DV descriptor
    assert sorted(_glob.glob(os.path.join(path, "*.parquet"))) == files_before
    snap = read_delta_snapshot(path)
    assert any(f.deletion_vector for f in snap.files)
    got = sorted(r["id"] for r in ctx.sql("SELECT id FROM t").df.collect())
    assert got == list(range(3, 10))

    # without the property: plain COW (no DV descriptors)
    p2 = str(tmp_path / "cowt")
    write_delta_table(
        spark.createDataFrame(
            [(i, f"c{i}") for i in range(10)], "id long, cat string"
        ).coalesce(1),
        p2,
    )
    ctx.register_delta("t2", p2)
    ctx.sql("DELETE FROM t2 WHERE id < 3")
    assert not any(f.deletion_vector for f in read_delta_snapshot(p2).files)


# ------------------------------------------------------ Catalyst grammar


def test_catalyst_dml_surface(spark):
    """Pins the internal Catalyst surface the DML walker relies on, so
    a pyspark upgrade that moves any of it fails here rather than at
    random across the DML suite."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from ballista_spark.dml import _column, _dataframe

    parse = spark._jsparkSession.sessionState().sqlParser().parsePlan
    for query, node in {
        "DELETE FROM t WHERE id = 1": "DeleteFromTable",
        "UPDATE t SET v = 1 WHERE id = 1": "UpdateTable",
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE":
            "MergeIntoTable",
        "INSERT INTO t SELECT 1": "InsertIntoStatement",
        "ALTER TABLE t ADD COLUMNS (x int)": "AddColumns",
        "ALTER TABLE t DROP COLUMNS (x)": "DropColumns",
        "ALTER TABLE t RENAME COLUMN x TO y": "RenameColumn",
    }.items():
        plan = parse(query)
        assert plan.getClass().getSimpleName() == node, query
        target = plan.targetTable() if node == "MergeIntoTable" else plan.table()
        assert target.multipartIdentifier().mkString(".") == "t"
    merge = parse(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert merge.withSchemaEvolution()
    assert merge.notMatchedBySourceActions().size() == 1
    assert merge.matchedActions().isEmpty() and merge.notMatchedActions().isEmpty()
    # classic.ExpressionUtils.column wraps a parsed expression; the
    # session's expression() turns the Column back into that tree
    cond = parse("DELETE FROM t WHERE id >= 15 AND cat LIKE 'x%'").condition()
    col = _column(spark, cond)
    assert spark._jsparkSession.expression(col._jc).equals(cond)
    assert provable_conjuncts(col) == [("id", ">=", 15)]
    # an F.expr Column round-trips too
    assert provable_conjuncts(F.expr("id >= 15 AND cat LIKE 'x%'")) == [
        ("id", ">=", 15)
    ]
    # classic.Dataset.ofRows runs a parsed query plan
    query = parse("INSERT INTO t SELECT 1 AS a").query()
    assert _dataframe(spark, query).collect() == [Row(a=1)]
    with pytest.raises(ParseException):
        parse("DELETE FROM t WHERE id IN (1,")


_M = "MERGE INTO t USING s ON t.id = s.id "


@pytest.mark.parametrize(
    "query,match",
    [
        (_M + "WHEN NOT MATCHED BY SOURCE THEN DELETE", "NOT MATCHED BY SOURCE"),
        (
            _M + "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0",
            "NOT MATCHED BY SOURCE",
        ),
        (
            _M + "WHEN MATCHED AND s.a THEN DELETE WHEN MATCHED THEN UPDATE SET *",
            "at most one WHEN MATCHED",
        ),
        (
            _M + "WHEN NOT MATCHED AND s.a THEN INSERT * "
            "WHEN NOT MATCHED THEN INSERT *",
            "at most one WHEN NOT MATCHED",
        ),
        (_M + "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)", r"INSERT \*"),
        (
            "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE",
            "SCHEMA EVOLUTION",
        ),
        (
            "MERGE INTO t USING s ON t.id < s.id WHEN MATCHED THEN DELETE",
            "equi-conjunctions",
        ),
        (
            "MERGE INTO t USING s ON t.a = s.b WHEN MATCHED THEN DELETE",
            "share one name",
        ),
        ("INSERT INTO t PARTITION (p = 1) SELECT 1", "PARTITION"),
        ("INSERT INTO t BY NAME SELECT 1 AS id", "BY NAME"),
        ("ALTER TABLE t ADD COLUMNS (x int NOT NULL)", "NOT NULL"),
        ("ALTER TABLE t ADD COLUMNS (x int DEFAULT 1)", "DEFAULT"),
        ("ALTER TABLE t ADD COLUMNS (x int FIRST)", "position"),
        ("ALTER TABLE t ADD COLUMNS (x int AFTER id)", "position"),
    ],
)
def test_parse_refuses_unhonourable_clauses(spark, query, match):
    """A clause the storage layer cannot honour raises at the one
    dispatch point; none is silently dropped."""
    with pytest.raises(DmlError, match=match):
        parse_dml(query)


def _register(ctx, spark, fmt, name, path, chunks):
    """A lakehouse table written as one append per chunk — one data
    file each — registered as ``name``; returns each chunk's file."""
    from ballista_spark.sources import deltalog, iceberg

    mod = deltalog if fmt == "delta" else iceberg
    write = mod.write_delta_table if fmt == "delta" else mod.write_iceberg_table
    files = []
    for rows in chunks:
        before = _live(spark, mod, path) if files else set()
        write(
            spark.createDataFrame(
                rows, "id long, cat string, v long, n string"
            ).coalesce(1),
            path,
        )
        (new,) = _live(spark, mod, path) - before
        files.append(new)
    (ctx.register_delta if fmt == "delta" else ctx.register_iceberg)(name, path)
    return files


def _live(spark, mod, path) -> set:
    t = mod._Rewrite(spark, path, "DELETE")
    return {t.path(f) for f in t.live_files()}


def _record_may_match(monkeypatch, mod) -> list:
    """Each stats prune's (conjuncts, candidate paths), in call order."""
    seen = []
    may_match = mod._Rewrite.may_match

    def recording(self, fs, conj):
        out = may_match(self, fs, conj)
        seen.append((conj, {self.path(f) for f in out}))
        return out

    monkeypatch.setattr(mod._Rewrite, "may_match", recording)
    return seen


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_sql_vacuum_retain_zero_hours(spark, tmp_path, fmt):
    """``RETAIN 0 HOURS`` is an explicit zero retention (it used to fall
    back to the 168 h default and reap nothing): Delta VACUUM reaps the
    file the DELETE replaced, Iceberg expires the older snapshot."""
    import time

    ctx = _ctx(spark)
    _register(
        ctx, spark, fmt, "t_vac", str(tmp_path / fmt),
        [[(i, "c", i, "a") for i in range(10)]],
    )
    ctx.sql("DELETE FROM t_vac WHERE id < 3")
    time.sleep(0.05)  # the tombstone / snapshot must be older than now
    out = ctx.sql("VACUUM t_vac RETAIN 0 HOURS").df.collect()[0]
    assert out["operation"] == "vacuum" and out["version"] >= 1
    got = sorted(r["id"] for r in ctx.sql("SELECT id FROM t_vac").df.collect())
    assert got == list(range(3, 10))


#: 40 rows in four 10-row files by id range; every 9th cat is NULL so
#: NULL predicates must count as false
_ROWS = [
    (i, None if i % 9 == 0 else ("xa", "xb", "ya", "yb")[i % 4], i % 7, "a")
    for i in range(40)
]


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize(
    "where,conjuncts,candidates",
    [
        ("id < 3 OR id > 36", [], [0, 1, 2, 3]),
        ("v IN (1, 2)", [], [0, 1, 2, 3]),
        ("cat LIKE 'x%'", [], [0, 1, 2, 3]),
        ("upper(cat) = 'XA'", [], [0, 1, 2, 3]),
        # the provable `id >= 15` conjunct prunes file 0
        (
            "id >= 15 AND (cat LIKE 'x%' OR v IN (1, 2))",
            [("id", ">=", 15)],
            [1, 2, 3],
        ),
    ],
)
def test_broad_predicate_dml_matches_duckdb(
    spark, tmp_path, monkeypatch, fmt, where, conjuncts, candidates
):
    """UPDATE then DELETE through ``ctx.sql`` with OR / IN / LIKE /
    function-call predicates leave the same rows as DuckDB running the
    same statements.  The stats prune sees only the provable
    conjuncts, and the rewrite touches exactly the candidate files
    that hold a matching row."""
    import duckdb

    from ballista_spark.sources import deltalog, iceberg

    mod = deltalog if fmt == "delta" else iceberg
    ctx = _ctx(spark)
    path = str(tmp_path / fmt)
    chunks = [_ROWS[i : i + 10] for i in range(0, 40, 10)]
    files = _register(ctx, spark, fmt, "t_broad", path, chunks)
    expected = {files[k] for k in candidates}

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE t_broad (id BIGINT, cat VARCHAR, v BIGINT, n VARCHAR)"
    )
    duck.executemany("INSERT INTO t_broad VALUES (?, ?, ?, ?)", _ROWS)
    hits = duck.execute(f"SELECT id FROM t_broad WHERE {where}").fetchall()
    hit_ids = {r[0] for r in hits}
    touched = {
        files[k] for k, rows in enumerate(chunks) if hit_ids & {r[0] for r in rows}
    }
    assert touched <= expected

    seen = _record_may_match(monkeypatch, mod)

    def run(stmt):
        before = _live(spark, mod, path)
        ctx.sql(stmt)
        duck.execute(stmt)
        got = sorted(tuple(r) for r in ctx.sql("SELECT * FROM t_broad").df.collect())
        assert got == sorted(duck.execute("SELECT * FROM t_broad").fetchall()), stmt
        after = _live(spark, mod, path)
        (conj, cands), = seen
        seen.clear()
        assert conj == conjuncts, stmt
        return cands, before - after, after - before

    cands, removed, added = run(f"UPDATE t_broad SET n = 'hit' WHERE {where}")
    assert cands == expected and removed == touched
    # the matching rows now live only in the UPDATE's new files
    cands, removed, _ = run(f"DELETE FROM t_broad WHERE {where}")
    assert cands - added == expected - touched
    assert removed and removed <= added
