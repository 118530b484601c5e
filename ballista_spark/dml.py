"""SQL faces for the lakehouse mutation layer: DELETE / UPDATE / MERGE /
INSERT / ALTER / VACUUM / OPTIMIZE against registered Delta and Iceberg
tables through ``BallistaContext.sql`` — one engine surface for queries
AND mutations, as the reference funnels everything through `ctx.sql`
(`rust/client/src/context.rs:131-143`; its engine was read-only).
Spark parses DML but will not run it without the catalog jars this repo
does not require, so these statements run as the pure-Python
transactional ops of `sources/deltalog.py` and `sources/iceberg.py`.

The grammar is Catalyst's: :func:`parse_dml` walks the plan Spark's
SQL parser returns (a syntax error is pyspark's ``ParseException``).
WHERE predicates, SET values and MERGE conditions are any Spark SQL,
carried as Columns; a predicate's provable ``col op literal``
conjuncts prune files on their stats and the whole predicate picks the
rows (``sources/rewrite.py``).  A clause the storage layer cannot
honour (NOT MATCHED BY SOURCE, a second WHEN MATCHED, INSERT (cols)
VALUES, ...) raises :class:`DmlError` in its walker.  Any other plan,
and an INSERT or ALTER naming a table that is not a registered
lakehouse table, passes to Spark SQL.

Small regexes read what Spark's parser rejects: ``VACUUM t [RETAIN n
HOURS]``, ``OPTIMIZE t [ZORDER BY (c, ...)]``, the reference's DDL
``CREATE EXTERNAL TABLE name [(col type, ...)] STORED AS fmt [WITH
HEADER ROW] [DELIMITER 'c'] LOCATION 'path'`` (`ballista.proto:236-248`;
Arrow type names such as int64 and utf8; fmt is CSV, PARQUET, NDJSON,
JSON, ORC, AVRO, ARROW, IPC, FEATHER, DELTA, ICEBERG or HUDI), and ``ALTER TABLE t SET |
UNSET TBLPROPERTIES`` over quoted keys, which may be ones Spark
reserves for its catalog tables (owner, location, ...).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import Column as _ClassicColumn
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame

from ballista_spark.sources.rewrite import _and_terms, _kind
from ballista_spark.types import schema as _schema

__all__ = ["parse_dml", "execute_dml", "DmlError"]


class DmlError(ValueError):
    pass


@dataclass
class DmlStatement:
    op: str  # delete | update | merge | insert[_overwrite] | alter | ...
    table: str
    where: Column | None = None
    set_exprs: dict[str, Column] = field(default_factory=dict)
    source: object = None  # MERGE source / INSERT query: a parsed plan
    on: list[str] = field(default_factory=list)
    when_matched: str = "update"  # update | delete | skip (insert-only)
    insert_not_matched: bool = False
    matched_condition: Column | None = None
    not_matched_condition: Column | None = None
    matched_set: dict[str, Column] | None = None  # None = UPDATE SET *
    target_alias: str | None = None
    source_alias: str | None = None
    insert_columns: list[str] | None = None  # None = by position
    retain_hours: float | None = None
    zorder_by: list[str] = field(default_factory=list)
    add_columns: dict[str, str] = field(default_factory=dict)
    drop_columns: list[str] = field(default_factory=list)
    rename_from: str | None = None
    rename_to: str | None = None
    set_properties: dict[str, str] = field(default_factory=dict)
    unset_properties: list[str] = field(default_factory=list)
    # CREATE EXTERNAL TABLE fields
    file_type: str | None = None
    location: str | None = None
    columns: T.StructType | None = None
    has_header: bool = False
    delimiter: str = ","


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_VACUUM_RE = re.compile(
    rf"(?is)^\s*VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS?)?\s*;?\s*$"
)
_OPTIMIZE_RE = re.compile(
    rf"(?is)^\s*OPTIMIZE\s+({_IDENT})"
    rf"(?:\s+ZORDER\s+BY\s*\(\s*({_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?\s*;?\s*$"
)
_CREATE_EXT_RE = re.compile(
    rf"(?is)^\s*CREATE\s+EXTERNAL\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    rf"({_IDENT})\s*(\((?:.|\n)*?\))?\s*"
    rf"STORED\s+AS\s+([A-Za-z]+)"
    rf"(\s+WITH\s+HEADER\s+ROW)?"
    rf"(?:\s+DELIMITER\s+'((?:[^']|'')+)')?"
    rf"\s+LOCATION\s+'((?:[^']|'')+)'\s*;?\s*$"
)
_Q = r"'(?:[^']|'')*'"
_TBLPROPERTIES_RE = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+({_IDENT})\s+(?:SET\s+TBLPROPERTIES\s*\(\s*"
    rf"({_Q}\s*=\s*{_Q}(?:\s*,\s*{_Q}\s*=\s*{_Q})*)|UNSET\s+TBLPROPERTIES\s*"
    rf"\(\s*({_Q}(?:\s*,\s*{_Q})*))\s*\)\s*;?\s*$"
)
_DML_HEAD = re.compile(
    r"(?is)^\s*(DELETE|UPDATE|MERGE|VACUUM|OPTIMIZE|ALTER|INSERT"
    r"|CREATE\s+EXTERNAL)\b"
)


def parse_dml(
    query: str, spark: SparkSession | None = None, lakehouse=None
) -> DmlStatement | None:
    """Parse ``query`` as a DML/maintenance statement, or None when it
    passes through to Spark SQL untouched: a SELECT/CTE/DDL, a plan
    the walker does not route, or an INSERT/ALTER naming a table
    outside ``lakehouse`` (the registered mutable table names; None
    routes every table)."""
    head = _DML_HEAD.match(query)
    if not head:
        return None
    word = head.group(1).split()[0].upper()
    if word in ("VACUUM", "OPTIMIZE", "CREATE"):
        return _parse_unparsable(word, query)
    props = _TBLPROPERTIES_RE.match(query)
    if props:
        return _parse_properties(props, lakehouse)
    spark = spark or SparkSession.active()
    plan = _parser(spark).parsePlan(query)
    kind = plan.getClass().getSimpleName()
    walk = _WALKERS.get(kind)
    if walk is None:
        return None
    table, alias = _relation(
        plan.targetTable() if kind == "MergeIntoTable" else plan.table()
    )
    if table is None or (
        lakehouse is not None
        and table not in lakehouse
        and kind not in ("DeleteFromTable", "UpdateTable", "MergeIntoTable")
    ):
        return None
    return walk(spark, plan, table, alias)


def _parse_unparsable(word: str, query: str) -> DmlStatement | None:
    """VACUUM, OPTIMIZE and CREATE EXTERNAL TABLE, which Spark's parser
    rejects."""
    m = {"VACUUM": _VACUUM_RE, "OPTIMIZE": _OPTIMIZE_RE}.get(
        word, _CREATE_EXT_RE
    ).match(query)
    if m is None:
        if word == "CREATE":
            return None  # Spark SQL's own CREATE EXTERNAL TABLE forms
        raise DmlError(f"cannot parse {word} statement — see ballista_spark.dml")
    if word == "VACUUM":
        return DmlStatement(
            op="vacuum", table=m[1], retain_hours=float(m[2]) if m[2] else None
        )
    if word == "OPTIMIZE":
        return DmlStatement(
            op="optimize", table=m[1],
            zorder_by=[c.strip() for c in m[2].split(",")] if m[2] else [],
        )
    name, cols, fmt, header, delim, loc = m.groups()
    return DmlStatement(
        op="create_external", table=name, file_type=fmt.lower(),
        location=loc.replace("''", "'"),
        columns=_schema(cols[1:-1]) if cols else None,
        has_header=bool(header), delimiter=(delim or ",").replace("''", "'"),
    )


def _parse_properties(m: re.Match, lakehouse) -> DmlStatement | None:
    """SET / UNSET TBLPROPERTIES, or None for a table outside
    ``lakehouse``.  Spark's parser refuses the keys it reserves for its
    catalog tables (owner, location, provider, external); a lakehouse
    table's properties are its own."""
    if lakehouse is not None and m[1] not in lakehouse:
        return None
    vals = [v[1:-1].replace("''", "'") for v in re.findall(_Q, m[2] or m[3])]
    if m[3]:
        return DmlStatement(op="alter", table=m[1], unset_properties=vals)
    props = dict(zip(vals[::2], vals[1::2]))
    return DmlStatement(op="alter", table=m[1], set_properties=props)


# ------------------------------------------------------------ plan walker


def _parser(spark: SparkSession | None):
    spark = spark or SparkSession.active()
    return spark._jsparkSession.sessionState().sqlParser()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _relation(rel) -> tuple[str | None, str | None]:
    """(table name, the name statement columns qualify it by) of a
    relation: its alias, else the table's own last name part.  The
    table name is None when ``rel`` is not a plain named table."""
    alias = None
    if rel.getClass().getSimpleName() == "SubqueryAlias":
        alias, rel = rel.alias(), rel.child()
    if rel.getClass().getSimpleName() not in ("UnresolvedRelation", "UnresolvedTable"):
        return None, alias
    parts = _seq(rel.multipartIdentifier())
    return ".".join(parts), alias or parts[-1]


def _column(spark: SparkSession, expr) -> Column:
    return _ClassicColumn(
        spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(expr)
    )


def _dataframe(spark: SparkSession, plan) -> DataFrame:
    return _ClassicDataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan
        ),
        spark,
    )


def _attribute(e, aliases: set, what: str) -> str:
    """The column a possibly qualified column reference names."""
    named = e.getClass().getSimpleName() == "UnresolvedAttribute"
    parts = _seq(e.nameParts()) if named else []
    if not 0 < len(parts) <= 2:
        raise DmlError(f"{what} must name a column (got {e.sql()})")
    if len(parts) == 2 and parts[0] not in aliases:
        raise DmlError(f"unknown qualifier {parts[0]!r} in {what}")
    return parts[-1]


def _assignments(spark, seq, aliases: set, what: str) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for a in _seq(seq):
        col = _attribute(a.key(), aliases, what)
        if col in out:
            raise DmlError(f"column {col!r} assigned twice in {what}")
        out[col] = _column(spark, a.value())
    return out


def _condition(spark, option) -> Column | None:
    return _column(spark, option.get()) if option.isDefined() else None


def _walk_delete(spark, plan, table, alias) -> DmlStatement:
    cond = plan.condition()
    if cond.getClass().getSimpleName() == "Literal" and cond.sql() == "true":
        raise DmlError(
            "DELETE needs a WHERE clause — refusing an unconditional "
            "DELETE (INSERT OVERWRITE with an empty query truncates)"
        )
    return DmlStatement(
        op="delete", table=table, where=_column(spark, cond), target_alias=alias
    )


def _walk_update(spark, plan, table, alias) -> DmlStatement:
    sets = _assignments(spark, plan.assignments(), {table, alias}, "UPDATE SET")
    where = _condition(spark, plan.condition())
    return DmlStatement(
        op="update", table=table, set_exprs=sets, where=where,
        target_alias=alias,
    )


def _walk_merge(spark, plan, table, alias) -> DmlStatement:
    if plan.withSchemaEvolution():
        raise DmlError(
            "MERGE WITH SCHEMA EVOLUTION is not supported — evolve the "
            "table with ALTER TABLE ... ADD COLUMNS first"
        )
    if not plan.notMatchedBySourceActions().isEmpty():
        raise DmlError(
            "WHEN NOT MATCHED BY SOURCE is not supported — the storage "
            "MERGE never touches target rows without a source match"
        )
    matched = _seq(plan.matchedActions())
    not_matched = _seq(plan.notMatchedActions())
    if len(matched) > 1:
        raise DmlError("at most one WHEN MATCHED clause")
    if len(not_matched) > 1:
        raise DmlError("at most one WHEN NOT MATCHED clause")
    src = plan.sourceTable()
    source_alias = _relation(src)[1] or "__src"
    aliases = {table, alias, source_alias}
    on: list[str] = []
    for term in _and_terms(plan.mergeCondition()):
        if _kind(term) != "=":
            raise DmlError(
                f"MERGE ON must be equi-conjunctions (got {term.sql()})"
            )
        c1, c2 = (
            _attribute(e, aliases, "MERGE ON") for e in _seq(term.children())
        )
        if c1 != c2:
            raise DmlError(
                "MERGE ON columns must share one name on both sides "
                f"(got {c1!r} = {c2!r}) — the storage MERGE is keyed "
                "by column name"
            )
        on.append(c1)
    stmt = DmlStatement(
        op="merge", table=table, source=src, on=on,
        # "skip" = insert-only: matched target rows stay untouched
        when_matched="skip", target_alias=alias, source_alias=source_alias,
    )
    for action in matched:  # DeleteAction | UpdateStarAction | UpdateAction
        kind = action.getClass().getSimpleName()
        stmt.matched_condition = _condition(spark, action.condition())
        stmt.when_matched = "delete" if kind == "DeleteAction" else "update"
        if kind == "UpdateAction":
            stmt.matched_set = _assignments(
                spark, action.assignments(), aliases, "MERGE SET"
            )
    for action in not_matched:
        if action.getClass().getSimpleName() != "InsertStarAction":
            raise DmlError(
                "WHEN NOT MATCHED supports only INSERT * (INSERT (cols) "
                "VALUES (...) is not supported)"
            )
        stmt.insert_not_matched = True
        stmt.not_matched_condition = _condition(spark, action.condition())
    return stmt


def _walk_insert(spark, plan, table, alias) -> DmlStatement:
    if not plan.partitionSpec().isEmpty():
        raise DmlError(
            "INSERT ... PARTITION (...) is not supported — the table's "
            "own layout places the rows"
        )
    if plan.byName():
        raise DmlError(
            "INSERT ... BY NAME is not supported — name the columns: "
            "INSERT INTO t (c1, ...) <query>"
        )
    cols = _seq(plan.userSpecifiedCols()) or None
    if cols and len({c.lower() for c in cols}) != len(cols):
        raise DmlError("duplicate column in INSERT column list")
    return DmlStatement(
        op="insert_overwrite" if plan.overwrite() else "insert",
        table=table, source=plan.query(), insert_columns=cols,
    )


def _walk_add_columns(spark, plan, table, alias) -> DmlStatement:
    adds: dict[str, str] = {}
    for c in _seq(plan.columnsToAdd()):
        for clause, present in (
            ("a nested path", c.path().isDefined()),
            ("NOT NULL", not c.nullable()),
            ("COMMENT", c.comment().isDefined()),
            ("a position", c.position().isDefined()),
            ("DEFAULT", c.default().isDefined()),
        ):
            if present:
                raise DmlError(
                    f"ADD COLUMNS {c.colName()!r} with {clause} is not "
                    "supported — added columns are top-level, nullable and "
                    "appended (old files read them as NULL)"
                )
        adds[c.colName()] = c.dataType().catalogString()
    return DmlStatement(op="alter", table=table, add_columns=adds)


def _walk_drop_columns(spark, plan, table, alias) -> DmlStatement:
    cols = [f.name().mkString(".") for f in _seq(plan.columnsToDrop())]
    return DmlStatement(op="alter", table=table, drop_columns=cols)


def _walk_rename_column(spark, plan, table, alias) -> DmlStatement:
    return DmlStatement(
        op="alter", table=table,
        rename_from=plan.column().name().mkString("."),
        rename_to=plan.newName(),
    )


#: parsed plan node class → walker; any other node passes to Spark SQL
_WALKERS = {
    "DeleteFromTable": _walk_delete,
    "UpdateTable": _walk_update,
    "MergeIntoTable": _walk_merge,
    "InsertIntoStatement": _walk_insert,
    "AddColumns": _walk_add_columns,
    "DropColumns": _walk_drop_columns,
    "RenameColumn": _walk_rename_column,
}


# -------------------------------------------------------------- execution


def _storage(fmt: str) -> SimpleNamespace:
    """The one per-format table of storage functions the router calls."""
    from ballista_spark.sources import deltalog as d
    from ballista_spark.sources import iceberg as i

    table = {  # operation: (Delta, Iceberg)
        "delete": (d.delete_from_delta_table, i.delete_from_iceberg_table),
        "update": (d.update_delta_table, i.update_iceberg_table),
        "merge": (d.merge_delta_table, i.merge_iceberg_table),
        "read": (d.read_delta_table, i.read_iceberg_table),
        "write": (d.write_delta_table, i.write_iceberg_table),
        "compact": (d.compact_delta_table, i.compact_iceberg_table),
        "vacuum": (d.vacuum_delta_table, i.expire_iceberg_snapshots),
        "set_properties": (
            d.set_delta_table_properties, i.set_iceberg_table_properties
        ),
        "alter": (d.alter_delta_table, i.alter_iceberg_table),
        # both metadata-only: Delta through column mapping, Iceberg
        # through parquet field ids
        "rename": (
            lambda path, old, new, spark: d.rename_delta_column(path, old, new),
            i.rename_iceberg_column,
        ),
        "schema": (
            lambda path: d.read_delta_snapshot(path).schema,
            lambda path: i.iceberg_to_spark_type(
                i._current_schema(i._load_metadata(path)[1])
            ),
        ),
    }
    return SimpleNamespace(**{op: fns[fmt != "delta"] for op, fns in table.items()})


def _merge(spark, store: SimpleNamespace, path: str, stmt: DmlStatement):
    source = _dataframe(spark, stmt.source)
    if (
        stmt.when_matched != "skip"
        and stmt.matched_condition is None
        and stmt.not_matched_condition is None
        and stmt.matched_set is None
    ):
        return store.merge(
            spark, path, source, on=stmt.on,
            when_matched=stmt.when_matched,
            insert_not_matched=stmt.insert_not_matched,
        )
    # per-clause conditions / explicit SET compose onto the plain
    # storage MERGE by transforming the SOURCE: matched rows passing the
    # condition become their POST-action rows (source row for SET *, a
    # projection over the t/s pair for explicit SET); matched rows
    # failing it leave the source — the storage merge then never
    # touches them.  Ambiguous references surface as an
    # AnalysisException, never a silent guess.
    talias, salias = stmt.target_alias, stmt.source_alias
    target_df = store.read(spark, path)
    target_cols = target_df.columns
    types = {f.name: f.dataType for f in target_df.schema.fields}
    bad = [c for c in stmt.matched_set or () if c not in types]
    if bad:
        raise DmlError(
            f"MERGE SET columns {bad} are not in the table schema {target_cols}"
        )
    keyed = [c for c in stmt.matched_set or () if c in stmt.on]
    if keyed:
        raise DmlError(
            f"MERGE SET cannot assign ON columns {keyed} — the merge is "
            "keyed by them"
        )
    t, s = target_df.alias(talias), source.alias(salias)
    pair = F.col(f"{talias}.{stmt.on[0]}") == F.col(f"{salias}.{stmt.on[0]}")
    for k in stmt.on[1:]:
        pair = pair & (F.col(f"{talias}.{k}") == F.col(f"{salias}.{k}"))
    inserts = None
    if stmt.insert_not_matched:
        inserts = s.join(t, pair, "left_anti")
        if stmt.not_matched_condition is not None:
            inserts = inserts.where(stmt.not_matched_condition)
        inserts = inserts.select(
            *[F.col(f"{salias}.{c}").alias(c) for c in target_cols]
        )
    if stmt.when_matched == "skip":
        # insert-only MERGE: matched rows stay untouched, so the new
        # keys are a plain append (no file ever rewrites)
        if not inserts.limit(1).count():
            return None
        return store.write(inserts, path, mode="append")
    applied = t.join(s, pair, "inner")
    if stmt.matched_condition is not None:
        applied = applied.where(stmt.matched_condition)
    if stmt.when_matched == "update" and stmt.matched_set:
        new = {c: e.cast(types[c]) for c, e in stmt.matched_set.items()}
        source = applied.select(
            *[new.get(c, F.col(f"{talias}.{c}")).alias(c) for c in target_cols]
        )
    else:  # SET * (update) or DELETE: the source row carries on
        source = applied.select(
            *[F.col(f"{salias}.{c}").alias(c) for c in target_cols]
        )
    if inserts is not None:
        source = source.unionByName(inserts)
    return store.merge(
        spark, path, source, on=stmt.on,
        when_matched=stmt.when_matched,
        insert_not_matched=stmt.insert_not_matched,
    )


def _insert_rows(spark, target_schema: T.StructType, stmt: DmlStatement):
    """The INSERT query aligned to the table: BY POSITION to the full
    schema, or to the named column list with unlisted columns NULL;
    cast to the declared types."""
    src_df = _dataframe(spark, stmt.source)
    # a VALUES/SELECT query can produce names like `9.5` that any
    # by-name access would dot-parse — normalize to safe ordinals
    src_df = src_df.toDF(*[f"__c{i}" for i in range(len(src_df.columns))])
    by_lower = {f.name.lower(): f.name for f in target_schema.fields}
    names = stmt.insert_columns or list(by_lower.values())
    unknown = [c for c in names if c.lower() not in by_lower]
    if unknown:
        raise DmlError(
            f"INSERT column(s) {unknown} not in table schema "
            f"{list(by_lower.values())}"
        )
    if len(src_df.columns) != len(names):
        target = "column list has" if stmt.insert_columns else "table column count is"
        raise DmlError(
            f"INSERT query produces {len(src_df.columns)} columns but the "
            f"{target} {len(names)}"
        )
    pos = {by_lower[c.lower()]: i for i, c in enumerate(names)}
    return src_df.select(
        *[
            (F.col(f"__c{pos[f.name]}") if f.name in pos else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in target_schema.fields
        ]
    )


def execute_dml(ctx, stmt: DmlStatement):
    """Run a parsed statement against the context's lakehouse registry;
    returns a one-row metrics DataFrame (operation, table, version) and
    refreshes the table's registered view to the new snapshot."""
    spark = ctx.spark
    if stmt.op == "create_external":
        kwargs = {}
        if stmt.file_type in ("csv", "tbl"):
            kwargs = {"has_header": stmt.has_header, "delimiter": stmt.delimiter}
        if stmt.columns and stmt.file_type in ("csv", "tbl", "json", "ndjson"):
            kwargs["schema"] = stmt.columns
        ctx.create_external_table(
            stmt.table, stmt.location, file_type=stmt.file_type, **kwargs
        )
        return spark.createDataFrame(
            [("create_external", stmt.table, None)],
            "operation string, table string, version long",
        )
    entry = ctx._lakehouse.get(stmt.table)  # noqa: SLF001 — friend module
    if entry is None:
        known = sorted(ctx._lakehouse)  # noqa: SLF001
        raise DmlError(
            f"{stmt.table!r} is not a registered Delta/Iceberg table "
            f"(mutable tables: {known}); register via CREATE EXTERNAL "
            "TABLE ... STORED AS DELTA|ICEBERG or register_delta/"
            "register_iceberg"
        )
    fmt, path = entry
    store = _storage(fmt)
    if stmt.op == "delete":
        # each format picks its write shape from the table's own
        # properties (delta.enableDeletionVectors /
        # write.delete.mode=merge-on-read): the router is policy-free
        version = store.delete(spark, path, stmt.where, alias=stmt.target_alias)
    elif stmt.op == "update":
        version = store.update(
            spark, path, stmt.set_exprs, stmt.where, alias=stmt.target_alias
        )
    elif stmt.op == "merge":
        version = _merge(spark, store, path, stmt)
    elif stmt.op == "vacuum":
        hours = 7 * 24 if stmt.retain_hours is None else stmt.retain_hours
        version = len(store.vacuum(path, retention_ms=int(hours * 3600 * 1000)))
    elif stmt.op == "optimize":
        version = store.compact(spark, path, cluster_by=stmt.zorder_by or None)
    elif stmt.op in ("insert", "insert_overwrite"):
        version = store.write(
            _insert_rows(spark, store.schema(path), stmt), path,
            mode="append" if stmt.op == "insert" else "overwrite",
        )
    elif stmt.set_properties or stmt.unset_properties:
        version = store.set_properties(
            path,
            set_props=stmt.set_properties or None,
            unset=stmt.unset_properties or None,
        )
    elif stmt.rename_from is not None:
        version = store.rename(
            path, stmt.rename_from, stmt.rename_to, spark=spark
        )
    else:  # ADD / DROP COLUMNS
        version = store.alter(
            path, add_columns=stmt.add_columns or None,
            drop_columns=stmt.drop_columns or None,
        )
    if stmt.op != "vacuum":
        ctx._refresh_lakehouse_view(stmt.table)  # noqa: SLF001
    return spark.createDataFrame(
        [(stmt.op, stmt.table, version)],
        "operation string, table string, version long",
    )
