"""Graded coverage corpus — the engine's one operator-coverage definition:
13 operator-family entries that, with the 21 TPC-H queries and the 16
pipeline entries, form the exactly-50-entry ``__spark_entry__.queries()``
corpus whose every entry has a DuckDB oracle (tests/test_graded.py
compares them at both scales).

Each entry is a real multi-operator query with a DuckDB oracle.  Results
of unrelated shapes are normalized to a shared schema, tagged (``op``,
``join_type`` or ``grp``) and combined with UNION ALL; the
order-insensitive value compare still checks every branch row-for-row.
README.md maps each ballista.proto family to its entry and tag.

Hash-stability discipline per queries/base.py (decimal-cast sums, BIGINT
pins, ROUND(…, 9) on cross-libm math).
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ballista_spark.dataframe import BallistaDataFrame
from ballista_spark.queries.base import Query, dec_sum
from ballista_spark.sources.registry import load_table, register_tables

GRADED_COVERAGE: dict[str, Query] = {}

#: temp dirs this process created for the CsvScan roundtrip (cleaned at exit)
_CSV_SCAN_DIRS: set[str] = set()

_DEC = "decimal(18,6)"


def _q(name: str, doc: str, sql: str, oracle: str | None = None) -> None:
    GRADED_COVERAGE[name] = Query(doc=doc, sql=sql, oracle=oracle)


def _b(name: str, doc: str, builder, oracle: str) -> None:
    GRADED_COVERAGE[name] = Query(doc=doc, builder=builder, oracle=oracle)


def _dsum(col: str) -> F.Column:
    """DataFrame-side mirror of base.dec_sum (decimal-exact, money-rounded)."""
    return F.round(F.sum(F.col(col).cast(_DEC)), 2).cast("double")


# --- 1. CsvScan + projection/selection/predicates/sort/limit/offset ---------


#: the DV-lifecycle branches' oracle base: part minus the DV-deleted
#: brand (what the Delta table holds after the DELETE)
_PART_MINUS_BRAND1 = (
    "(SELECT * FROM part WHERE p_brand <> 'Brand#1') AS pmb"
)

_PART_PREDICATE = """
SELECT '{src}' AS src, p_partkey, p_name, -p_retailprice AS neg_price
FROM {table}
WHERE p_size BETWEEN 10 AND 30
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_name LIKE '%a%'
  AND p_type IS NOT NULL
  AND NOT (p_size = 20)
  AND (p_size < 15 OR p_size >= 25)
ORDER BY p_retailprice DESC, p_partkey
LIMIT 40 OFFSET 5
"""


def _csv_select_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize ``part`` as pipe-delimited ``.tbl`` files (the reference's
    primary source format, rust/benchmarks/tpch/src/main.rs:130-139), read
    it back through BallistaContext.read_csv, and run the predicate matrix
    on the roundtripped table.  Spark's CSV writer emits shortest-roundtrip
    doubles, so the scan is lossless and the parquet oracle matches.

    A second tagged branch selects the same rows through a table created
    with BallistaContext.create_external_table over the parquet path —
    grading the CreateExternalTable DDL surface (ballista.proto:236-248)
    through the driver gate (oracle: the same select on the base table).

    A third branch round-trips ``part`` through the pure-Python Delta
    table source (sources/deltalog.py): two appends + a range-clustered
    compaction build a real multi-version log, then the read goes
    through snapshot reconstruction with stats-based file skipping —
    grading the lakehouse layer end-to-end (oracle: identical select on
    the base parquet).
    """
    from ballista_spark.context import BallistaContext

    part = load_table(spark, sf_dir, "part")
    # per-process path: a fixed shared dir would race when a pytest run and
    # a driver gate run (or xdist workers) overwrite/rename concurrently.
    # The dir must outlive this (lazy) DataFrame, so it is removed at
    # process exit — and stale dirs left by crashed processes are reaped
    # here (kill(pid, 0) probes liveness without signalling).
    root = os.path.join(tempfile.gettempdir(), f"bs_csv_scan_{os.getpid()}")
    if root not in _CSV_SCAN_DIRS:
        _CSV_SCAN_DIRS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    for stale in glob.glob(os.path.join(tempfile.gettempdir(), "bs_csv_scan_*")):
        try:
            pid = int(stale.rsplit("_", 1)[1])
            if pid != os.getpid():
                os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
        except (ValueError, PermissionError, OSError):
            pass
    out = os.path.join(root, os.path.basename(sf_dir.rstrip("/")))
    part.write.mode("overwrite").option("delimiter", "|").csv(out)
    for f in os.listdir(out):
        if f.endswith(".csv"):
            os.rename(os.path.join(out, f), os.path.join(out, f[:-4] + ".tbl"))
    ctx = BallistaContext(spark)

    # r10 (guide §2.6): the lakehouse round-trip branches below build
    # INDEPENDENT tables in separate directories — serialized they run
    # ~20 tiny write/commit/read jobs back-to-back (measured 5.8 s cold
    # / 4.5 s warm at sf0.01).  Each branch group runs in its own pool
    # thread; concurrent Spark jobs are FIFO-scheduled and back-fill the
    # idle executors.  The THREE Iceberg-writer branches stay grouped in
    # ONE thread: write_iceberg_table toggles the session-wide
    # spark.sql.parquet.outputTimestampType around its write, and two
    # concurrent toggles could race their restores (no other branch
    # mutates session conf; none of the frames written here carry
    # timestamp columns, so a concurrent Delta/Hudi/CSV write cannot be
    # affected by the Iceberg thread's toggle).  Results are identical —
    # only job overlap changes; each branch's temp-view name is unique.
    from concurrent.futures import ThreadPoolExecutor

    from ballista_spark.sources.deltalog import (
        compact_delta_table,
        delete_from_delta_table,
        read_delta_table,
        write_delta_table,
    )
    from ballista_spark.sources.iceberg import (
        compact_iceberg_table,
        delete_from_iceberg_table,
        read_iceberg_snapshot,
        read_iceberg_table,
        write_iceberg_table,
    )

    import uuid as _uuid

    def _csv_ext_branches():
        tbl = ctx.read_csv(
            out, schema=part.schema, delimiter="|", file_extension=".tbl"
        )
        ctx.register_table("part_tbl", tbl)
        ctx.create_external_table(
            "part_ext", os.path.join(sf_dir, "part.parquet"), "parquet"
        )
        return (
            spark.sql(_PART_PREDICATE.format(src="csv", table="part_tbl")),
            spark.sql(_PART_PREDICATE.format(src="ext", table="part_ext")),
        )

    def _delta_branch():
        # fresh per-call table dir (snapshot resolution is eager; data
        # files persist under `root`, reaped at process exit with the
        # csv dirs)
        dt = os.path.join(root, f"part_delta_{_uuid.uuid4().hex}")
        write_delta_table(
            part.where("p_partkey % 2 = 0").repartition(2), dt, mode="append"
        )
        write_delta_table(
            part.where("p_partkey % 2 = 1").repartition(2), dt, mode="append"
        )
        compact_delta_table(spark, dt, cluster_by=["p_size"])
        read_delta_table(
            spark, dt, filters=[("p_size", ">=", 10), ("p_size", "<=", 30)]
        ).createOrReplaceTempView("part_delta")
        return spark.sql(_PART_PREDICATE.format(src="delta", table="part_delta"))

    # fourth branch (round 7): the same round-trip through the Iceberg
    # v1 WRITER — two appends building a real multi-snapshot table,
    # clustered compaction (replace snapshot), then a bound-pruned
    # snapshot read; oracle: identical select on the base parquet
    def _ice_branch():
        it = os.path.join(root, f"part_ice_{_uuid.uuid4().hex}")
        write_iceberg_table(part.where("p_partkey % 2 = 0").repartition(2), it)
        write_iceberg_table(part.where("p_partkey % 2 = 1").repartition(2), it)
        compact_iceberg_table(spark, it, cluster_by=["p_size"])
        read_iceberg_table(
            spark, it, filters=[("p_size", ">=", 10), ("p_size", "<=", 30)]
        ).createOrReplaceTempView("part_ice")
        return spark.sql(_PART_PREDICATE.format(src="ice", table="part_ice"))

    # fifth branch (round 7): the Hudi COW reader over a layout-faithful
    # table built from the same rows — two commits (even/odd file
    # groups) plus an UNCOMMITTED ghost file whose rows must stay
    # invisible; oracle: identical select on the base parquet
    from pyspark.sql import functions as _F

    from ballista_spark.sources.hudi import read_hudi_table

    def _hudi_branch():
        ht = os.path.join(root, f"part_hudi_{_uuid.uuid4().hex}")
        os.makedirs(os.path.join(ht, ".hoodie"), exist_ok=True)
        with open(os.path.join(ht, ".hoodie", "hoodie.properties"), "w") as f:
            f.write("hoodie.table.name=part\nhoodie.table.type=COPY_ON_WRITE\n")

        def _hudi_commit(df_slice, instant):
            stage = os.path.join(ht, f".stage-{instant}")
            df_slice.repartition(1).write.mode("overwrite").parquet(stage)
            for i, name in enumerate(sorted(os.listdir(stage))):
                if name.endswith(".parquet"):
                    os.rename(
                        os.path.join(stage, name),
                        os.path.join(
                            ht, f"{_uuid.uuid4()}-{i}_0-1-0_{instant}.parquet"
                        ),
                    )
            shutil.rmtree(stage, ignore_errors=True)
            with open(os.path.join(ht, ".hoodie", f"{instant}.commit"), "w") as f:
                f.write('{"partitionToWriteStats": {}}')

        _hudi_commit(part.where("p_partkey % 2 = 0"), "20240101000000")
        _hudi_commit(part.where("p_partkey % 2 = 1"), "20240102000000")
        # ghost: staged by a "crashed writer" at a NEWER instant, no commit
        ghost = part.limit(5).withColumn(
            "p_partkey", _F.col("p_partkey") + 10_000_000
        )
        stage = os.path.join(ht, ".stage-ghost")
        ghost.repartition(1).write.mode("overwrite").parquet(stage)
        for name in sorted(os.listdir(stage)):
            if name.endswith(".parquet"):
                os.rename(
                    os.path.join(stage, name),
                    os.path.join(ht, f"{_uuid.uuid4()}-0_0-1-0_20240103000000.parquet"),
                )
        shutil.rmtree(stage, ignore_errors=True)
        read_hudi_table(spark, ht).createOrReplaceTempView("part_hudi")
        return spark.sql(_PART_PREDICATE.format(src="hudi", table="part_hudi"))

    # sixth/seventh branches (round 9): the deletion-vector LIFECYCLE
    # through the driver oracle — a DV DELETE (zero data bytes
    # rewritten; matched positions packed into one roaring bitmap per
    # file EXECUTOR-side) whose read applies the tombstone anti-join
    # ('dv'), then OPTIMIZE purges the vectors into plain rewrites and
    # the same rows must survive ('dvp').  Oracle: the predicate on
    # base parquet minus the deleted brand, twice.
    def _dv_branches():
        dvt = os.path.join(root, f"part_dvlc_{_uuid.uuid4().hex}")
        write_delta_table(part.repartition(2), dvt, mode="append")
        if delete_from_delta_table(
            spark, dvt, [("p_brand", "=", "Brand#1")], use_deletion_vectors=True
        ) is None:
            # the driver's testdata has single-digit brands (71 Brand#1
            # rows at sf0.01); a generator without them would make this
            # branch a vacuous empty-vs-empty pass — fail loudly instead
            raise RuntimeError(
                "DV-lifecycle branch matched no rows: Brand#1 is absent "
                "from this part table (fixture drift)"
            )
        read_delta_table(spark, dvt).createOrReplaceTempView("part_dv")
        dv = spark.sql(_PART_PREDICATE.format(src="dv", table="part_dv"))
        compact_delta_table(spark, dvt, target_file_bytes=1 << 30)
        read_delta_table(spark, dvt).createOrReplaceTempView("part_dvp")
        return dv, spark.sql(_PART_PREDICATE.format(src="dvp", table="part_dvp"))

    # eighth/ninth branches (round 10): the ICEBERG v2 position-delete
    # LIFECYCLE — the zero-rewrite DELETE twin of 'dv'/'dvp'.  A
    # position-delete DELETE (matched (file,pos) pairs written
    # executor-side as sorted spec-shaped tombstone parquet, content=1
    # delete manifest, format-version upgrade to 2) whose read applies
    # the tombstone anti-join ('ipd'), then compaction purges the
    # tombstones into a plain rewrite and the same rows must survive
    # ('ipdp').  Oracle: part minus the deleted brand, twice.
    def _ipd_branches():
        ipt = os.path.join(root, f"part_ipd_{_uuid.uuid4().hex}")
        write_iceberg_table(part.repartition(2), ipt)
        if delete_from_iceberg_table(
            spark, ipt, [("p_brand", "=", "Brand#1")], use_position_deletes=True
        ) is None:
            raise RuntimeError(
                "position-delete branch matched no rows: Brand#1 is absent "
                "from this part table (fixture drift)"
            )
        read_iceberg_table(spark, ipt).createOrReplaceTempView("part_ipd")
        ipd = spark.sql(_PART_PREDICATE.format(src="ipd", table="part_ipd"))
        compact_iceberg_table(spark, ipt, target_file_bytes=1 << 30)
        if read_iceberg_snapshot(ipt).delete_files:
            raise RuntimeError(
                "compaction left position-delete tombstones live — the "
                "'ipdp' branch would not grade the purge"
            )
        read_iceberg_table(spark, ipt).createOrReplaceTempView("part_ipdp")
        return ipd, spark.sql(_PART_PREDICATE.format(src="ipdp", table="part_ipdp"))

    # tenth branch (round 10): the ICEBERG v3 DELETION-VECTOR read
    # plane through the oracle — a spec-built format-version 3 table
    # (Puffin deletion-vector-v1 blob, delete manifest referencing it
    # by content_offset/content_size) holding part ordered by
    # p_partkey in one data file, with every Brand#1 row's POSITION
    # deletion-vectored out.  The read must decode the roaring bitmap
    # and anti-join by (file, position); oracle: part minus the brand.
    from ballista_spark.sources.iceberg import spark_to_iceberg_schema
    from ballista_spark.sources.iceberg_fixtures import build_v3_dv_table

    def _ice3_branch():
        it3 = os.path.join(root, f"part_ice3_{_uuid.uuid4().hex}")
        ordered = part.repartition(1).sortWithinPartitions("p_partkey").toArrow()
        positions = [
            i
            for i, b in enumerate(ordered["p_brand"].to_pylist())
            if b == "Brand#1"
        ]
        if not positions:
            raise RuntimeError(
                "v3 DV branch matched no rows: Brand#1 absent (fixture drift)"
            )
        build_v3_dv_table(
            it3,
            {"part-00000.parquet": ordered},
            {"part-00000.parquet": positions},
            spark_to_iceberg_schema(part.schema)[0],
        )
        read_iceberg_table(spark, it3).createOrReplaceTempView("part_ice3")
        return spark.sql(_PART_PREDICATE.format(src="ice3", table="part_ice3"))

    def _iceberg_group():
        # one thread for every Iceberg-writer branch (conf-toggle note
        # above); sequential within the thread
        return _ice_branch(), _ipd_branches(), _ice3_branch()

    with ThreadPoolExecutor(max_workers=6) as pool:
        csv_ext_f = pool.submit(_csv_ext_branches)
        delta_f = pool.submit(_delta_branch)
        ice_f = pool.submit(_iceberg_group)
        hudi_f = pool.submit(_hudi_branch)
        dv_f = pool.submit(_dv_branches)
        csv_branch, ext_branch = csv_ext_f.result()
        delta_branch = delta_f.result()
        ice_branch, (ipd_branch, ipdp_branch), ice3_branch = ice_f.result()
        hudi_branch = hudi_f.result()
        dv_branch, dvp_branch = dv_f.result()

    # neg_price asc == p_retailprice desc: same order as each branch's sort
    return (
        csv_branch.unionAll(ext_branch)
        .unionAll(delta_branch)
        .unionAll(ice_branch)
        .unionAll(hudi_branch)
        .unionAll(dv_branch)
        .unionAll(dvp_branch)
        .unionAll(ipd_branch)
        .unionAll(ipdp_branch)
        .unionAll(ice3_branch)
        .orderBy("src", "neg_price", "p_partkey")
    )


_b(
    "cov_csv_select",
    "CsvScan (.tbl pipe-delimited roundtrip through BallistaContext."
    "read_csv — ballista.proto:200-207, python/src/context.rs:84-139) + "
    "Projection/Selection with BETWEEN/IN/LIKE/IS NOT NULL/NOT/OR/negation "
    "+ multi-key Sort + LIMIT/OFFSET, plus a second branch selecting the "
    "same rows through BallistaContext.create_external_table DDL "
    "(ballista.proto:236-248), plus a third through the Delta-protocol "
    "table source (append x2 + clustered compaction + stats-skipped "
    "snapshot read, sources/deltalog.py), plus round-7 fourth/fifth "
    "branches: the Iceberg v1 WRITER round-trip (append x2 + clustered "
    "replace-snapshot compaction + bound-pruned read, "
    "sources/iceberg.py) and the Hudi COW reader over a layout-faithful "
    "two-commit table with an uncommitted ghost file that must stay "
    "invisible (sources/hudi.py), plus round-9 sixth/seventh branches: "
    "the deletion-vector LIFECYCLE — a DV DELETE (per-file roaring "
    "bitmaps packed executor-side, zero data bytes rewritten) read "
    "through the tombstone anti-join, then an OPTIMIZE purge rewrite "
    "that must preserve exactly the surviving rows "
    "(sources/deltalog.py + sources/dvbitmap.py), plus round-10 "
    "eighth/ninth/tenth branches: the ICEBERG v2 position-delete "
    "lifecycle — zero-rewrite DELETE writing sorted spec-shaped "
    "(file_path,pos) tombstone parquet + content=1 delete manifest, "
    "read via the tombstone anti-join ('ipd'), compaction purge "
    "('ipdp') — and the v3 DELETION-VECTOR read plane over a "
    "spec-built Puffin fixture whose roaring bitmap must anti-join "
    "by position ('ice3') (sources/iceberg.py + "
    "sources/iceberg_fixtures.py).  Oracle reads the same rows from "
    "parquet ten times, tagged.",
    _csv_select_builder,
    oracle=f"""
SELECT * FROM (
  {_PART_PREDICATE.format(src="csv", table="part")}
) a
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="ext", table="part")}
) b
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="delta", table="part")}
) c
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="ice", table="part")}
) d
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="hudi", table="part")}
) e
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="dv", table=_PART_MINUS_BRAND1)}
) f
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="dvp", table=_PART_MINUS_BRAND1)}
) g
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="ipd", table=_PART_MINUS_BRAND1)}
) h
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="ipdp", table=_PART_MINUS_BRAND1)}
) i
UNION ALL
SELECT * FROM (
  {_PART_PREDICATE.format(src="ice3", table=_PART_MINUS_BRAND1)}
) j
ORDER BY src, neg_price, p_partkey
""",
)

# --- 2. all seven join types -------------------------------------------------


def _join_types_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(spark, sf_dir, ("customer", "orders", "region", "nation"))
    cust, orders = t["customer"], t["orders"]
    big = orders.where(F.col("o_totalprice") > 400000.0)
    nb = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def tag(df, op, grp, n, n2, total):
        return df.select(
            F.lit(op).alias("join_type"),
            grp.cast("string").alias("grp"),
            n.cast("bigint").alias("n"),
            n2.cast("bigint").alias("n2"),
            total.cast("double").alias("total"),
        )

    def bjoin(left, right, on, how):
        return BallistaDataFrame(left).join(BallistaDataFrame(right), on=on, how=how).df

    inner = bjoin(cust, orders, [cust.c_custkey == orders.o_custkey], "inner").groupBy(
        "c_mktsegment"
    )
    left = bjoin(cust, orders, [cust.c_custkey == orders.o_custkey], "left").groupBy(
        "c_mktsegment"
    )
    right = bjoin(cust, orders, [cust.c_custkey == orders.o_custkey], "right").groupBy(
        "o_orderstatus"
    )
    full = bjoin(cust, orders, [cust.c_custkey == orders.o_custkey], "full")
    semi = bjoin(cust, big, [cust.c_custkey == big.o_custkey], "left_semi").groupBy(
        "c_mktsegment"
    )
    anti = bjoin(cust, big, [cust.c_custkey == big.o_custkey], "left_anti").groupBy(
        "c_mktsegment"
    )
    cross = t["region"].crossJoin(t["nation"]).groupBy("r_name")

    parts = [
        tag(
            inner.agg(F.count("*").alias("c"), _dsum("o_totalprice").alias("s")),
            "inner", F.col("c_mktsegment"), F.col("c"), nb, F.col("s"),
        ),
        tag(
            left.agg(F.count("*").alias("c"), F.count("o_orderkey").alias("m")),
            "left", F.col("c_mktsegment"), F.col("c"), F.col("m"), nd,
        ),
        tag(
            right.agg(F.count("*").alias("c"), F.count("c_custkey").alias("m")),
            "right", F.col("o_orderstatus"), F.col("c"), F.col("m"), nd,
        ),
        tag(
            full.agg(
                F.count("*").alias("c"),
                F.count("c_custkey").alias("m"),
                F.count("o_orderkey").alias("r"),
            ),
            "full", F.lit(""), F.col("c"), F.col("m"), F.col("r").cast("double"),
        ),
        tag(semi.agg(F.count("*").alias("c")), "semi", F.col("c_mktsegment"),
            F.col("c"), nb, nd),
        tag(anti.agg(F.count("*").alias("c")), "anti", F.col("c_mktsegment"),
            F.col("c"), nb, nd),
        tag(cross.agg(F.count("*").alias("c")), "cross", F.col("r_name"),
            F.col("c"), nb, nd),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("join_type", "grp")


_b(
    "cov_join_types",
    "All seven join types in one tagged result: the wire enum INNER/LEFT/"
    "RIGHT (ballista.proto:266-270) plus the FULL/SEMI/ANTI/CROSS upgrades "
    "(SURVEY.md §2.7), each via the BallistaDataFrame.join API and "
    "normalized to (join_type, grp, n, n2, total).",
    _join_types_builder,
    oracle="""
SELECT * FROM (
  SELECT 'inner' AS join_type, c_mktsegment AS grp, COUNT(*) AS n,
         CAST(NULL AS BIGINT) AS n2,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY c_mktsegment
  UNION ALL
  SELECT 'left', c_mktsegment, COUNT(*), COUNT(o_orderkey), CAST(NULL AS DOUBLE)
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_mktsegment
  UNION ALL
  SELECT 'right', o_orderstatus, COUNT(*), COUNT(c_custkey), CAST(NULL AS DOUBLE)
  FROM customer RIGHT JOIN orders ON c_custkey = o_custkey GROUP BY o_orderstatus
  UNION ALL
  SELECT 'full', '', COUNT(*), COUNT(c_custkey), CAST(COUNT(o_orderkey) AS DOUBLE)
  FROM customer FULL JOIN orders ON c_custkey = o_custkey
  UNION ALL
  SELECT 'semi', c_mktsegment, COUNT(*), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  FROM customer WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
  GROUP BY c_mktsegment
  UNION ALL
  SELECT 'anti', c_mktsegment, COUNT(*), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
  GROUP BY c_mktsegment
  UNION ALL
  SELECT 'cross', r_name, COUNT(*), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
  FROM region CROSS JOIN nation GROUP BY r_name
) t ORDER BY join_type, grp
""",
)

# --- 3. set operations + distinct + empty relation + repartition ------------

#: Projection + Selection (ballista.proto:204-212) with BETWEEN / IN / LIKE /
#: IS NOT NULL / NOT / negation (proto:47-78,134-139); shared by both sides
_SELECT_FILTER = """
SELECT p_partkey AS k, p_name AS tag, CAST(-p_retailprice AS DOUBLE) AS v
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_name LIKE '%a%'
  AND p_type IS NOT NULL
  AND NOT (p_size = 20)
"""

#: LIMIT + OFFSET pagination over a total order (proto:280-283 plus the
#: beyond-parity offset); shared by both sides
_PAGE = """
SELECT o_orderkey AS k, o_orderstatus AS tag, CAST(o_totalprice AS DOUBLE) AS v
FROM orders ORDER BY o_orderkey LIMIT 25 OFFSET 100
"""


def _setops_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_tables(
        spark, sf_dir, ("customer", "supplier", "orders", "lineitem", "part")
    )
    cust = BallistaDataFrame(t["customer"])
    nb = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    def tag(df, op, k, tag_col, v):
        return df.select(
            F.lit(op).alias("op"),
            k.cast("bigint").alias("k"),
            tag_col.cast("string").alias("tag"),
            v.cast("double").alias("v"),
        )

    # unionByName with deliberately reversed column order (a positional
    # UNION would cross-type here) — covers union-by-name alignment
    hi = cust.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_custkey").alias("k"), F.lit("hi").alias("tag")
    )
    lo = cust.filter(F.col("c_acctbal") < -900.0).select(
        F.lit("lo").alias("tag"), F.col("c_custkey").alias("k")
    )
    union_all = tag(hi.union(lo).df, "union_all", F.col("k"), F.col("tag"), nd)

    cn = t["customer"].where(F.col("c_acctbal") > 5000.0).select(
        F.col("c_nationkey").alias("k")
    )
    sn = t["supplier"].where(F.col("s_acctbal") > 5000.0).select(
        F.col("s_nationkey").alias("k")
    )
    union_d = tag(cn.union(sn).distinct(), "union", F.col("k"), F.lit(""), nd)
    inter = tag(
        t["customer"].select(F.col("c_nationkey").alias("k")).intersect(
            t["supplier"].select(F.col("s_nationkey").alias("k"))
        ),
        "intersect", F.col("k"), F.lit(""), nd,
    )
    exc = tag(
        t["customer"].select(F.col("c_nationkey").alias("k")).subtract(
            t["supplier"].select(F.col("s_nationkey").alias("k"))
        ),
        "except", F.col("k"), F.lit(""), nd,
    )
    dist = tag(
        t["orders"].select("o_orderstatus", "o_orderpriority").distinct(),
        "distinct", nb, F.concat_ws("/", "o_orderstatus", "o_orderpriority"), nd,
    )
    empty = tag(
        t["orders"].where(F.lit(1) == F.lit(0)).agg(F.count("*").alias("c")),
        "empty", F.col("c"), F.lit(""), nd,
    )
    li = BallistaDataFrame(t["lineitem"])
    rep_h = tag(
        li.repartition(8, F.col("l_orderkey"))
        .df.groupBy("l_returnflag")
        .agg(F.count("*").alias("c"), _dsum("l_quantity").alias("q")),
        "repart_hash", F.col("c"), F.col("l_returnflag"), F.col("q"),
    )
    rep_rr = tag(
        li.repartition(8)
        .df.groupBy("l_returnflag")
        .agg(F.count("*").alias("c"), _dsum("l_quantity").alias("q")),
        "repart_rr", F.col("c"), F.col("l_returnflag"), F.col("q"),
    )
    # multi-key Sort with explicit (asc, nulls_first) per key
    # (ballista.proto:157-161) + Limit over NULLABLE keys: the null
    # placement decides which 50 rows the limit keeps
    keyed = cust.select(
        "c_custkey",
        F.expr("NULLIF(c_mktsegment, 'HOUSEHOLD')").alias("seg"),
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias("bal"),
    )
    top = keyed.sort(
        F.col("seg").asc_nulls_first(),
        F.col("bal").desc_nulls_first(),
        F.col("c_custkey").asc(),
    ).limit(50)
    sort_limit = tag(
        top.df, "sort_limit", F.col("c_custkey"), F.col("seg"), F.col("bal")
    )
    select = tag(
        spark.sql(_SELECT_FILTER), "select", F.col("k"), F.col("tag"), F.col("v")
    )
    page = tag(spark.sql(_PAGE), "page", F.col("k"), F.col("tag"), F.col("v"))
    out = union_all
    for p in (
        union_d, inter, exc, dist, empty, rep_h, rep_rr, sort_limit, select, page
    ):
        out = out.unionAll(p)
    return out.orderBy("op", "k", "tag")


_b(
    "cov_setops_repart",
    "Set operations (UNION ALL by-name with reversed columns, UNION "
    "DISTINCT, INTERSECT, EXCEPT), SELECT DISTINCT, EmptyRelation "
    "(ballista.proto:232-234; COUNT over WHERE 1=0), hash/round-robin "
    "Repartition (proto:219-230; results partition-invariant), and a "
    "BallistaDataFrame sort+limit with explicit NULLS FIRST on nullable "
    "keys (proto:157-161,280-283), a predicate-matrix selection and a "
    "LIMIT/OFFSET page — one tagged result.",
    _setops_builder,
    oracle=f"""
SELECT * FROM (
  SELECT 'union_all' AS op, c_custkey AS k, 'hi' AS tag, CAST(NULL AS DOUBLE) AS v
  FROM customer WHERE c_acctbal > 9000.0
  UNION ALL
  SELECT 'union_all', c_custkey, 'lo', NULL FROM customer WHERE c_acctbal < -900.0
  UNION ALL
  SELECT 'union', k, '', NULL FROM (
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000.0
    UNION
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000.0)
  UNION ALL
  SELECT 'intersect', k, '', NULL FROM (
    SELECT c_nationkey AS k FROM customer
    INTERSECT SELECT s_nationkey FROM supplier)
  UNION ALL
  SELECT 'except', k, '', NULL FROM (
    SELECT c_nationkey AS k FROM customer
    EXCEPT SELECT s_nationkey FROM supplier)
  UNION ALL
  SELECT 'distinct', CAST(NULL AS BIGINT),
         o_orderstatus || '/' || o_orderpriority, NULL
  FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
  UNION ALL
  SELECT 'empty', COUNT(*), '', NULL FROM orders WHERE 1 = 0
  UNION ALL
  SELECT 'repart_hash', COUNT(*), l_returnflag,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT 'repart_rr', COUNT(*), l_returnflag,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT 'sort_limit', c_custkey, seg, bal FROM (
    SELECT c_custkey, NULLIF(c_mktsegment, 'HOUSEHOLD') AS seg,
           CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS bal
    FROM customer
    ORDER BY seg ASC NULLS FIRST, bal DESC NULLS FIRST, c_custkey
    LIMIT 50)
  UNION ALL
  SELECT 'select', k, tag, v FROM ({_SELECT_FILTER})
  UNION ALL
  SELECT 'page', k, tag, v FROM ({_PAGE})
) t ORDER BY op, k, tag
""",
)

# --- 4. aggregate family (wire enum + distinct + median/percentile) ---------

#: the comparison-operator matrix (And/Or/Eq/NotEq/Lt/LtEq/Gt/GtEq,
#: ballista.proto:64-68) as conditional counts, one row in the aggregate
#: schema: nd = AND, mn = OR, mx = >=, sm = <
_PRED_MATRIX = """
SELECT 'pred:orders', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice > 100000.0 AND o_orderstatus = 'O'
                     THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN o_totalprice <= 2000.0 OR o_orderstatus <> 'O'
                     THEN 1 ELSE 0 END) AS DOUBLE),
       CAST(SUM(CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END)
            AS DOUBLE),
       CAST(SUM(CASE WHEN o_totalprice < 50000.0 THEN 1 ELSE 0 END)
            AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE)
FROM orders
"""

_q(
    "cov_agg_family",
    "Full aggregate surface in one tagged result: the wire enum MIN/MAX/"
    "SUM/AVG/COUNT (ballista.proto:121-127), COUNT(DISTINCT), global "
    "no-GROUP-BY aggregation, exact MEDIAN/PERCENTILE (beyond-enum), and "
    "the comparison-operator matrix as conditional counts (proto:64-68).",
    f"""
SELECT 'orders:' || o_orderstatus AS grp, COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS nd,
       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
       {dec_sum("o_totalprice", "sm")},
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o_totalprice), 6) AS av,
       CAST(NULL AS DOUBLE) AS med, CAST(NULL AS DOUBLE) AS q1,
       CAST(NULL AS DOUBLE) AS q3
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'lineitem:ALL', COUNT(*), COUNT(DISTINCT l_partkey),
       CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
       {dec_sum("l_quantity")},
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(l_quantity), 6),
       MEDIAN(l_quantity), PERCENTILE(l_quantity, 0.25),
       PERCENTILE(l_quantity, 0.75)
FROM lineitem
UNION ALL
SELECT 'li:' || l_returnflag, COUNT(*), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE),
       MEDIAN(l_quantity), PERCENTILE(l_quantity, 0.25),
       PERCENTILE(l_quantity, 0.75)
FROM lineitem GROUP BY l_returnflag
UNION ALL
{_PRED_MATRIX}
ORDER BY grp
""",
    oracle=f"""
SELECT 'orders:' || o_orderstatus AS grp, COUNT(*) AS n,
       COUNT(DISTINCT o_custkey) AS nd,
       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
       {dec_sum("o_totalprice", "sm")},
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(o_totalprice), 6) AS av,
       CAST(NULL AS DOUBLE) AS med, CAST(NULL AS DOUBLE) AS q1,
       CAST(NULL AS DOUBLE) AS q3
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'lineitem:ALL', COUNT(*), COUNT(DISTINCT l_partkey),
       CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
       {dec_sum("l_quantity")},
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(l_quantity), 6),
       MEDIAN(l_quantity), QUANTILE_CONT(l_quantity, 0.25),
       QUANTILE_CONT(l_quantity, 0.75)
FROM lineitem
UNION ALL
SELECT 'li:' || l_returnflag, COUNT(*), CAST(NULL AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE),
       MEDIAN(l_quantity), QUANTILE_CONT(l_quantity, 0.25),
       QUANTILE_CONT(l_quantity, 0.75)
FROM lineitem GROUP BY l_returnflag
UNION ALL
{_PRED_MATRIX}
ORDER BY grp
""",
)

# --- 5. rollup / cube / grouping sets / pivot -------------------------------


def _grouping_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("supplier", "nation", "region", "orders"))
    base = spark.sql(
        f"""
SELECT 'rollup' AS op, r_name AS k1, n_name AS k2, COUNT(*) AS n,
       CAST(NULL AS DOUBLE) AS total
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
UNION ALL
SELECT 'cube', o_orderstatus, o_orderpriority, COUNT(*),
       {dec_sum("o_totalprice")}
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets', o_orderstatus, o_orderpriority, COUNT(*),
       {dec_sum("o_totalprice")}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""
    )
    pivot = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2).cast("double"))
        .unpivot(["o_orderpriority"], ["O", "F", "P"], "k2", "total")
        .where(F.col("total").isNotNull())
        .select(
            F.lit("pivot").alias("op"),
            F.col("o_orderpriority").alias("k1"),
            F.col("k2"),
            F.lit(None).cast("bigint").alias("n"),
            F.col("total"),
        )
    )
    return base.unionAll(pivot).orderBy(
        "op",
        F.col("k1").asc_nulls_first(),
        F.col("k2").asc_nulls_first(),
    )


_b(
    "cov_grouping_pivot",
    "Multi-dimensional aggregation surface: ROLLUP, CUBE, explicit "
    "GROUPING SETS, and DataFrame-API pivot(+unpivot normalization) in one "
    "tagged result (beyond reference — SURVEY.md §2.8).",
    _grouping_builder,
    oracle="""
SELECT * FROM (
  SELECT 'rollup' AS op, r_name AS k1, n_name AS k2, COUNT(*) AS n,
         CAST(NULL AS DOUBLE) AS total
  FROM supplier, nation, region
  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
  UNION ALL
  SELECT 'cube', o_orderstatus, o_orderpriority, COUNT(*),
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
  FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
  UNION ALL
  SELECT 'gsets', o_orderstatus, o_orderpriority, COUNT(*),
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
  FROM orders
  GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
  UNION ALL
  SELECT 'pivot', o_orderpriority, o_orderstatus, CAST(NULL AS BIGINT),
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
  FROM orders WHERE o_orderstatus IN ('O', 'F', 'P')
  GROUP BY o_orderpriority, o_orderstatus
) t ORDER BY op, k1 NULLS FIRST, k2 NULLS FIRST
""",
)

# --- 6. window function family ----------------------------------------------

_WINDOW_RANK = """
SELECT '{op}' AS op, c_mktsegment AS grp, c_custkey AS k,
       CAST(rn AS DOUBLE) AS v1, CAST(rnk AS DOUBLE) AS v2,
       CAST(drnk AS DOUBLE) AS v3
FROM (
  SELECT c_mktsegment, c_custkey,
         ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
) r WHERE rn <= 3
"""

_WINDOW_AGG = """
SELECT '{op}', CAST(o_custkey AS STRING), o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE),
       LAG(o_totalprice, 1) OVER w2, LEAD(o_totalprice, 1) OVER w2
FROM orders WHERE o_custkey < 50
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

_WINDOW_SQL = f"""
{_WINDOW_RANK.format(op="rank")}
UNION ALL
{_WINDOW_AGG.format(op="agg")}
UNION ALL
SELECT 'dist', '', c_custkey,
       CAST(NTILE(4) OVER w3 AS DOUBLE),
       PERCENT_RANK() OVER w3, CUME_DIST() OVER w3
FROM customer WHERE c_custkey < 200
WINDOW w3 AS (ORDER BY c_acctbal, c_custkey)
"""


def _window_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL branches, plus the ranking and running-frame branches
    rebuilt through the DataFrame ``Window`` API ('rank_api', 'agg_api';
    the oracle recomputes them from the SQL text)."""
    t = register_tables(spark, sf_dir, ("customer", "orders"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    rank_api = t["customer"].select(
        F.lit("rank_api").alias("op"),
        F.col("c_mktsegment").alias("grp"),
        F.col("c_custkey").alias("k"),
        F.row_number().over(w).cast("double").alias("v1"),
        F.rank().over(w).cast("double").alias("v2"),
        F.dense_rank().over(w).cast("double").alias("v3"),
    ).where(F.col("v1") <= 3)
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg_api = t["orders"].where(F.col("o_custkey") < 50).select(
        F.lit("agg_api").alias("op"),
        F.col("o_custkey").cast("string").alias("grp"),
        F.col("o_orderkey").alias("k"),
        F.round(F.sum(F.col("o_totalprice").cast(_DEC)).over(running), 2)
        .cast("double")
        .alias("v1"),
        F.lag("o_totalprice", 1).over(w2).alias("v2"),
        F.lead("o_totalprice", 1).over(w2).alias("v3"),
    )
    return (
        spark.sql(_WINDOW_SQL)
        .unionAll(rank_api)
        .unionAll(agg_api)
        .orderBy("op", "grp", "k")
    )


_b(
    "cov_window_family",
    "Window surface in one tagged result: ranking (row_number/rank/"
    "dense_rank), ordered-frame running SUM + LAG/LEAD, and distribution "
    "functions (NTILE/PERCENT_RANK/CUME_DIST) in SQL, plus the ranking and "
    "running-frame branches again through the DataFrame Window API — all "
    "integer-ratio or decimal-exact, so the SQL text is its own oracle.",
    _window_builder,
    oracle=f"""
SELECT * FROM (
  {_WINDOW_SQL}
  UNION ALL
  SELECT * FROM ({_WINDOW_RANK.format(op="rank_api")}) ra
  UNION ALL
  SELECT * FROM ({_WINDOW_AGG.format(op="agg_api")}) aa
) t ORDER BY op, grp, k
""",
)

# --- 7. scalar math functions (all 17) --------------------------------------

_q(
    "cov_math_funcs",
    "The full math-function enum (ballista.proto:81-97): sqrt/sin/cos/tan/"
    "asin/acos/atan/exp/ln/log2/log10/floor/ceil/round/abs/signum + "
    "numeric trunc, over the distinct part sizes; ROUND(…, 9) absorbs "
    "cross-libm ulp differences.",
    """
SELECT p_size,
       ROUND(SQRT(CAST(p_size AS DOUBLE)), 9) AS f_sqrt,
       ROUND(EXP(CAST(p_size AS DOUBLE) / 50.0), 9) AS f_exp,
       ROUND(LN(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_ln,
       ROUND(LOG2(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_log2,
       ROUND(LOG10(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_log10,
       ROUND(SIN(CAST(p_size AS DOUBLE)), 9) AS f_sin,
       ROUND(COS(CAST(p_size AS DOUBLE)), 9) AS f_cos,
       ROUND(TAN(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_tan,
       ROUND(ASIN(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_asin,
       ROUND(ACOS(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_acos,
       ROUND(ATAN(CAST(p_size AS DOUBLE)), 9) AS f_atan,
       CAST(FLOOR(p_retailprice) AS DOUBLE) AS f_floor,
       CAST(CEIL(p_retailprice) AS DOUBLE) AS f_ceil,
       ABS(-p_retailprice) AS f_abs,
       CAST(SIGN(p_retailprice - 1000.0) AS DOUBLE) AS f_sign,
       ROUND(p_retailprice / 7.0, 3) AS f_round,
       CAST(CAST(p_retailprice AS BIGINT) AS DOUBLE) AS f_trunc
FROM (SELECT DISTINCT p_size, MIN(p_retailprice) AS p_retailprice
      FROM part GROUP BY p_size) t
ORDER BY p_size
""",
    oracle="""
SELECT p_size,
       ROUND(SQRT(CAST(p_size AS DOUBLE)), 9) AS f_sqrt,
       ROUND(EXP(CAST(p_size AS DOUBLE) / 50.0), 9) AS f_exp,
       ROUND(LN(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_ln,
       ROUND(LOG2(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_log2,
       ROUND(LOG10(CAST(p_size AS DOUBLE) + 1.0), 9) AS f_log10,
       ROUND(SIN(CAST(p_size AS DOUBLE)), 9) AS f_sin,
       ROUND(COS(CAST(p_size AS DOUBLE)), 9) AS f_cos,
       ROUND(TAN(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_tan,
       ROUND(ASIN(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_asin,
       ROUND(ACOS(CAST(p_size AS DOUBLE) / 100.0), 9) AS f_acos,
       ROUND(ATAN(CAST(p_size AS DOUBLE)), 9) AS f_atan,
       CAST(FLOOR(p_retailprice) AS DOUBLE) AS f_floor,
       CAST(CEIL(p_retailprice) AS DOUBLE) AS f_ceil,
       ABS(-p_retailprice) AS f_abs,
       CAST(SIGN(p_retailprice - 1000.0) AS DOUBLE) AS f_sign,
       ROUND(p_retailprice / 7.0, 3) AS f_round,
       CAST(TRUNC(p_retailprice) AS DOUBLE) AS f_trunc
FROM (SELECT DISTINCT p_size, MIN(p_retailprice) AS p_retailprice
      FROM part GROUP BY p_size) t
ORDER BY p_size
""",
)

# --- 8. string + hash functions ---------------------------------------------

# Known-answer values for the sha digests DuckDB lacks: Spark computes
# SHA2('ballista', n) per row (constant-folded); the oracle pins the
# hashlib-derived literal — upgrading the per-row length pins to a value
# check of the digest implementation itself.
import hashlib as _hashlib

_SHA_KAT = {
    n: _hashlib.new(f"sha{n}", b"ballista").hexdigest() for n in (224, 384, 512)
}

_q(
    "cov_string_hash_funcs",
    "String enum (ballista.proto:98-105: lower/upper/trim/ltrim/rtrim/"
    "concat/octet_length + substring), the extended string surface "
    "(regexp_replace/lpad/rpad/split_part/reverse/repeat/translate/instr), "
    "and the hash enum (proto:110-114): md5 + sha256 value-compared; "
    "sha224/384/512 length-pinned per row + known-answer value-checked "
    "against hashlib literals (DuckDB lacks those digests).",
    """
SELECT c_custkey,
       LOWER(c_name) AS lo,
       UPPER(c_mktsegment) AS up,
       TRIM('  ' || c_mktsegment || ' ') AS trimmed,
       LTRIM('  ' || c_mktsegment) AS ltrimmed,
       RTRIM(c_mktsegment || '  ') AS rtrimmed,
       CONCAT(c_name, ':', c_mktsegment) AS joined,
       CAST(OCTET_LENGTH(c_name) AS BIGINT) AS blen,
       SUBSTRING(c_name FROM 1 FOR 8) AS prefix,
       REGEXP_REPLACE(c_name, '[0-9]+', '#') AS squashed,
       LPAD(c_mktsegment, 12, '.') AS padded_l,
       RPAD(c_mktsegment, 12, '.') AS padded_r,
       SPLIT_PART(c_name, '#', 2) AS num_part,
       REVERSE(c_mktsegment) AS rev,
       REPEAT('ab', 3) AS rep,
       TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
       CAST(INSTR(c_name, '#') AS BIGINT) AS hash_pos,
       MD5(c_name) AS h_md5,
       SHA2(c_name, 256) AS h_sha256,
       CAST(LENGTH(SHA2(c_name, 224)) AS BIGINT) AS len224,
       CAST(LENGTH(SHA2(c_name, 384)) AS BIGINT) AS len384,
       CAST(LENGTH(SHA2(c_name, 512)) AS BIGINT) AS len512,
       SHA2('ballista', 224) AS kat224,
       SHA2('ballista', 384) AS kat384,
       SHA2('ballista', 512) AS kat512
FROM customer
WHERE c_custkey <= 100
ORDER BY c_custkey
""",
    oracle=f"""
SELECT c_custkey,
       LOWER(c_name) AS lo,
       UPPER(c_mktsegment) AS up,
       TRIM('  ' || c_mktsegment || ' ') AS trimmed,
       LTRIM('  ' || c_mktsegment) AS ltrimmed,
       RTRIM(c_mktsegment || '  ') AS rtrimmed,
       CONCAT(c_name, ':', c_mktsegment) AS joined,
       CAST(STRLEN(c_name) AS BIGINT) AS blen,
       SUBSTRING(c_name FROM 1 FOR 8) AS prefix,
       REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS squashed,
       LPAD(c_mktsegment, 12, '.') AS padded_l,
       RPAD(c_mktsegment, 12, '.') AS padded_r,
       SPLIT_PART(c_name, '#', 2) AS num_part,
       REVERSE(c_mktsegment) AS rev,
       REPEAT('ab', 3) AS rep,
       TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
       CAST(INSTR(c_name, '#') AS BIGINT) AS hash_pos,
       MD5(c_name) AS h_md5,
       SHA256(c_name) AS h_sha256,
       CAST(56 AS BIGINT) AS len224,
       CAST(96 AS BIGINT) AS len384,
       CAST(128 AS BIGINT) AS len512,
       '{_SHA_KAT[224]}' AS kat224,
       '{_SHA_KAT[384]}' AS kat384,
       '{_SHA_KAT[512]}' AS kat512
FROM customer
WHERE c_custkey <= 100
ORDER BY c_custkey
""",
)

# --- 9. temporal + semi-structured ------------------------------------------

_q(
    "cov_temporal_json",
    "DATE_TRUNC (ballista.proto:108) + EXTRACT family + TO_TIMESTAMP "
    "string-parse roundtrip + JSON field extraction from the events props "
    "column (semi-structured, beyond reference) in one grouped result.",
    """
SELECT event_type,
       CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
       CAST(EXTRACT(YEAR FROM ts) AS BIGINT) AS y,
       CAST(EXTRACT(MONTH FROM ts) AS BIGINT) AS m,
       CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS h,
       TO_TIMESTAMP(DATE_FORMAT(DATE_TRUNC('hour', ts),
                    'yyyy-MM-dd HH:mm:ss')) AS hour_ts,
       COUNT(*) AS n,
       CAST(SUM(CAST(GET_JSON_OBJECT(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum
FROM events
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY event_type, day, h
""",
    oracle="""
SELECT event_type,
       CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       CAST(EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
       CAST(EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS m,
       CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS h,
       STRPTIME(STRFTIME(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS hour_ts,
       COUNT(*) AS n,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_sum
FROM events
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY event_type, day, h
""",
)

# --- 10. CASE / CAST / NULLIF / COALESCE / array ----------------------------

_q(
    "cov_case_cast_misc",
    "Searched + simple CASE (ballista.proto:141-150), the CAST matrix "
    "(proto:152-155), NULLIF/COALESCE (proto:107) and ARRAY construction + "
    "element access (python/src/functions.rs array) in one projection.",
    """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000.0 THEN 'big'
            WHEN o_totalprice > 100000.0 THEN 'mid'
            ELSE 'small' END AS size_class,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'final'
            ELSE 'other' END AS status_word,
       CAST(SUBSTRING(CAST(o_orderkey AS VARCHAR(20)), 1, 1) AS BIGINT)
           AS first_digit,
       CAST(o_custkey AS DOUBLE) AS cust_d,
       CAST(o_orderdate AS DATE) AS od,
       NULLIF(o_orderpriority, '1-URGENT') AS prio_or_null,
       COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'was_urgent')
           AS coalesced,
       ELEMENT_AT(ARRAY(o_orderkey, o_custkey), 2) AS arr2,
       CONCAT_WS(',', ARRAY(CAST(o_orderkey AS STRING), o_orderstatus))
           AS arr_str
FROM orders
WHERE o_orderkey <= 500
ORDER BY o_orderkey
""",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000.0 THEN 'big'
            WHEN o_totalprice > 100000.0 THEN 'mid'
            ELSE 'small' END AS size_class,
       CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'final'
            ELSE 'other' END AS status_word,
       CAST(SUBSTRING(CAST(o_orderkey AS VARCHAR(20)), 1, 1) AS BIGINT)
           AS first_digit,
       CAST(o_custkey AS DOUBLE) AS cust_d,
       CAST(o_orderdate AS DATE) AS od,
       NULLIF(o_orderpriority, '1-URGENT') AS prio_or_null,
       COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'was_urgent')
           AS coalesced,
       ([o_orderkey, o_custkey])[2] AS arr2,
       ARRAY_TO_STRING([CAST(o_orderkey AS VARCHAR), o_orderstatus], ',')
           AS arr_str
FROM orders
WHERE o_orderkey <= 500
ORDER BY o_orderkey
""",
)

# --- 11. time-series joins: as-of + range + sessionization ------------------


def _interval_joins_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ballista_spark.operators.asof import asof_join
    from ballista_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    register_tables(spark, sf_dir, ("events",))
    nb = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")

    purchases = ev.where(F.col("event_type") == "purchase")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    asof = asof_join(
        purchases, views, on="ts", by="user_id", value_cols=["event_id", "value"]
    ).select(
        F.lit("asof").alias("op"),
        F.col("event_id").cast("bigint").alias("k1"),
        F.col("event_id_asof").cast("bigint").alias("k2"),
        F.col("value_asof").cast("double").alias("v"),
    )

    intervals = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end"),
    )
    points = ev.select("user_id", "ts", "event_id")
    rj = range_join(points, intervals, by="user_id", bin_width="30 minute")
    r_inner = rj.groupBy("signup_id").agg(F.count("*").alias("c")).select(
        F.lit("range").alias("op"),
        F.col("signup_id").cast("bigint").alias("k1"),
        F.col("c").cast("bigint").alias("k2"),
        nd.alias("v"),
    )
    rl = range_join(points, intervals, by="user_id", bin_width="30 minute", how="left")
    r_left = rl.agg(
        F.count(F.when(F.col("signup_id").isNull(), 1)).alias("unmatched"),
        F.count("signup_id").alias("matched"),
    ).select(
        F.lit("range_left").alias("op"),
        F.col("unmatched").cast("bigint").alias("k1"),
        F.col("matched").cast("bigint").alias("k2"),
        nd.alias("v"),
    )

    sessions = spark.sql(
        """
SELECT user_id,
       CAST(1 + SUM(CASE WHEN ts - prev > INTERVAL 10 MINUTE THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sessions,
       COUNT(*) + 1 AS n_events
FROM (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
    FROM events
) t
WHERE prev IS NOT NULL
GROUP BY user_id
"""
    ).select(
        F.lit("sessions").alias("op"),
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("n_sessions").cast("bigint").alias("k2"),
        F.col("n_events").cast("double").alias("v"),
    )
    return (
        asof.unionAll(r_inner).unionAll(r_left).unionAll(sessions)
        .orderBy("op", "k1")
    )


_b(
    "cov_interval_joins",
    "Time-series join surface in one tagged result: backward as-of join "
    "(operators.asof — union+window, one shuffle), bin-bucketed "
    "point-in-interval range join inner AND left (operators.rangejoin — "
    "equi-join on (key, bin), exact predicate in the join condition), and "
    "LAG-gap batch sessionization.  Oracles: DuckDB native ASOF JOIN and "
    "inequality joins.",
    _interval_joins_builder,
    oracle="""
SELECT * FROM (
  SELECT 'asof' AS op, l.event_id AS k1, r.event_id AS k2, r.value AS v
  FROM (SELECT * FROM events WHERE event_type = 'purchase') l
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
    ON l.user_id = r.user_id AND l.ts >= r.ts
  UNION ALL
  SELECT 'range', s.signup_id, COUNT(*), CAST(NULL AS DOUBLE)
  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) e
  JOIN (SELECT user_id, event_id AS signup_id, CAST(ts AS TIMESTAMP) AS s_ts,
               CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e_ts
        FROM events WHERE event_type = 'signup') s
    ON e.user_id = s.user_id AND e.ts >= s.s_ts AND e.ts < s.e_ts
  GROUP BY s.signup_id
  UNION ALL
  SELECT 'range_left',
         COUNT(*) FILTER (WHERE s.signup_id IS NULL),
         COUNT(s.signup_id), CAST(NULL AS DOUBLE)
  FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events) e
  LEFT JOIN (SELECT user_id, event_id AS signup_id,
                    CAST(ts AS TIMESTAMP) AS s_ts,
                    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e_ts
             FROM events WHERE event_type = 'signup') s
    ON e.user_id = s.user_id AND e.ts >= s.s_ts AND e.ts < s.e_ts
  UNION ALL
  SELECT 'sessions', user_id,
         CAST(1 + SUM(CASE WHEN ts - prev > INTERVAL 10 MINUTE
                           THEN 1 ELSE 0 END) AS BIGINT),
         CAST(COUNT(*) + 1 AS DOUBLE)
  FROM (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                 AS prev
      FROM events
  ) t
  WHERE prev IS NOT NULL
  GROUP BY user_id
) u ORDER BY op, k1
""",
)

# --- 12. event-stream analytics: funnel + retention -------------------------

_q(
    "cov_events_analytics",
    "Event-stream analytics in one tagged result: signup→view→purchase "
    "conversion funnel (MIN-timestamp staging) and daily retention cohorts "
    "(first-activity day × activity day distinct users).",
    """
WITH funnel AS (
    SELECT s.user_id, MIN(v.ts) AS v_ts, MIN(p.ts) AS p_ts
    FROM (SELECT user_id, MIN(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY user_id) s
    LEFT JOIN events v
      ON v.user_id = s.user_id AND v.event_type = 'view' AND v.ts > s.s_ts
    LEFT JOIN events p
      ON p.user_id = s.user_id AND p.event_type = 'purchase' AND p.ts > s.s_ts
    GROUP BY s.user_id
), cohorts AS (
    SELECT e.user_id,
           CAST(DATE_TRUNC('day', f.first_ts) AS DATE) AS cohort_day,
           CAST(DATE_TRUNC('day', e.ts) AS DATE) AS activity_day
    FROM events e
    JOIN (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id) f
      ON e.user_id = f.user_id
)
SELECT 'funnel' AS op, 'n_users' AS k1, '' AS k2, COUNT(*) AS n FROM funnel
UNION ALL
SELECT 'funnel', 'viewed', '',
       CAST(SUM(CASE WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM funnel
UNION ALL
SELECT 'funnel', 'purchased', '',
       CAST(SUM(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM funnel
UNION ALL
SELECT 'retention', CAST(cohort_day AS STRING), CAST(activity_day AS STRING),
       COUNT(DISTINCT user_id)
FROM cohorts
WHERE activity_day <= cohort_day + INTERVAL 3 DAY
GROUP BY cohort_day, activity_day
ORDER BY op, k1, k2
""",
    oracle="""
WITH funnel AS (
    SELECT s.user_id, MIN(v.ts) AS v_ts, MIN(p.ts) AS p_ts
    FROM (SELECT user_id, MIN(ts) AS s_ts FROM events
          WHERE event_type = 'signup' GROUP BY user_id) s
    LEFT JOIN events v
      ON v.user_id = s.user_id AND v.event_type = 'view' AND v.ts > s.s_ts
    LEFT JOIN events p
      ON p.user_id = s.user_id AND p.event_type = 'purchase' AND p.ts > s.s_ts
    GROUP BY s.user_id
), cohorts AS (
    SELECT e.user_id,
           CAST(DATE_TRUNC('day', CAST(f.first_ts AS TIMESTAMP)) AS DATE)
               AS cohort_day,
           CAST(DATE_TRUNC('day', CAST(e.ts AS TIMESTAMP)) AS DATE)
               AS activity_day
    FROM events e
    JOIN (SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_ts
          FROM events GROUP BY user_id) f
      ON e.user_id = f.user_id
)
SELECT 'funnel' AS op, 'n_users' AS k1, '' AS k2, COUNT(*) AS n FROM funnel
UNION ALL
SELECT 'funnel', 'viewed', '',
       CAST(SUM(CASE WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM funnel
UNION ALL
SELECT 'funnel', 'purchased', '',
       CAST(SUM(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM funnel
UNION ALL
SELECT 'retention', CAST(cohort_day AS STRING), CAST(activity_day AS STRING),
       COUNT(DISTINCT user_id)
FROM cohorts
WHERE activity_day <= cohort_day + INTERVAL 3 DAY
GROUP BY cohort_day, activity_day
ORDER BY op, k1, k2
""",
)

# --- 13. sketches + deterministic sampling + decontamination ----------------


def _sketch_sampling_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch + the deterministic corpus-surgery operators in one tagged
    result: hash-lottery Bernoulli/stratified/temperature-mixture sampling,
    per-group caps (operators/sampling.py — the md5 lottery is
    standardized, so DuckDB recomputes the identical selected set),
    benchmark decontamination (operators/decontam.py, ``src0`` documents
    standing in for the eval set), incremental exact dedup against a seen
    corpus (operators/dedup.py:dedup_against), and contiguous sequence
    packing (operators/dataset.py:pack_contiguous — the whole token layout
    pinned via per-source sums of window ids/offsets).  Selected sets are
    pinned exactly via (count, sum of ids) per source; contamination via
    the (hits, ngrams) integer totals."""
    from ballista_spark.operators.dataset import pack_contiguous
    from ballista_spark.operators.decontam import contamination_stats, decontaminate
    from ballista_spark.operators.dedup import dedup_against
    from ballista_spark.operators.dsir import dsir_fit, dsir_log_weights
    from ballista_spark.operators.hashing import md5_long
    from ballista_spark.operators.lm import ngram_lm_fit, ngram_lm_score
    from ballista_spark.operators.quality import (
        N_FEATURES,
        LogRegModel,
        quality_classifier_score,
    )
    from ballista_spark.operators.sampling import (
        group_cap,
        hash_sample,
        stratified_sample,
        temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")

    # r11 (guide §2.6/§5): every branch now emits its final
    # (op, k, metric, v) ROWS with each heavy subtree referenced exactly
    # ONCE (``F.stack`` generators replace the unionAll-of-projections
    # fan-out, which copied the branch aggregate once per metric), so
    # the 13 heavy branches checkpoint their finished rows directly and
    # the final union is one small leg per branch.  A single GROUPED
    # checkpoint of all 13 row-frames was measured and REJECTED in the
    # same window: its one ``toRdd`` planning ran 6.5 s SERIAL on the
    # main thread after the last branch resolved (warm build 16.5 s vs
    # 11.0 s for this design) — the per-branch plannings below do the
    # same total work but start on pool threads the moment each branch
    # finishes construction, overlapping the other branches' py4j
    # construction and the fits.  The r8 pathology (interpreted
    # higher-order gram expressions re-evaluated inside the giant entry
    # union, ~90 s observed for the quality branch at sf0.001) stays
    # fenced off by the checkpoints exactly as before.

    #: branch-checkpoint futures deferred for one concurrent
    #: resolution + materialization pass before the union is assembled
    deferred_ckpts: list = []

    def _ckpt(df: DataFrame):
        """Deferred-eager localCheckpoint (r10, guide §2.6).

        Returns a *Future* of the lazily-checkpointed DataFrame: the
        ``localCheckpoint(eager=False)`` call itself forces analysis +
        physical planning (``toRdd``, measured ~0.5 s per branch on the
        main thread), so it runs on a pool thread and overlaps with the
        main thread's construction of the remaining branches.  Before
        the builder returns, every checkpoint future is resolved and
        all marked RDDs are forced by ONE covering count (r10 pass 5),
        whose single job computes every branch's partitions with
        independent stages running concurrently.  Semantics are
        identical to ``localCheckpoint(eager=True)`` by the time any
        consumer runs: each branch is fully materialized (plan
        truncated, computed exactly once) before the entry's union
        executes.

        Consumers receive a ``coalesce(1)`` VIEW of the checkpoint
        (r10 session 4): every branch is ≤ ~60 rows by construction of
        this graded entry, but each checkpoint RDD inherits near-empty
        shuffle partitions that AQE cannot coalesce (LogicalRDD
        leaves).  The coalesce sits ABOVE the checkpoint: the probe
        union still materializes the raw RDD at full parallelism
        (coalescing *below* measured 2.5 → 8.6 s materialization),
        while consumers merge the cached partitions for ~free."""
        raw = pool.submit(lambda: df.localCheckpoint(eager=False))
        deferred_ckpts.append(raw)

        class _CoalescedView:
            __slots__ = ("_raw",)

            def __init__(self, r):
                self._raw = r

            def result(self):
                return self._raw.result().coalesce(1)

        return _CoalescedView(raw)

    # the four ITERATIVE/fit constructions launch jobs while they build:
    # pagerank (7 rounds) and Bradley-Terry (5) run at tol=0, so no round
    # has an action, but AQE runs each round's shuffle stages when its
    # checkpoint is declared; the lm/dsir fits checkpoint eagerly once —
    # ~5.7 s serial warm at sf0.01.  Kick them off now on pool threads so
    # they overlap with each other and with the main thread's (serial,
    # py4j-bound) plan construction; each is resolved at its first use.
    from concurrent.futures import ThreadPoolExecutor

    from ballista_spark.operators.graph import pagerank
    from ballista_spark.operators.preference import bt_strengths

    # branch CONSTRUCTION also runs on pool threads (r10 pass 4, guide
    # §2.6): DataFrames are immutable and py4j gives each thread its own
    # gateway connection, so the ~25 independent branch trees build in
    # parallel and the main thread resolves their futures in the order
    # it used to build in — the assembled plan is bit-identical.
    # 16 workers: branch construction tasks mostly block on py4j
    # sockets, and a handful additionally block on the fit futures —
    # those fits are submitted FIRST so they are already running when
    # any dependent task starts waiting (no cycle, no starvation)
    pool = ThreadPoolExecutor(max_workers=16)

    _d = F.col("doc_id")
    lm_fit_f = pool.submit(
        lambda: ngram_lm_fit(docs.where(F.col("source") == "src1"), n=2)
    )
    dsm_f = pool.submit(
        lambda: dsir_fit(docs.where(F.col("source") == "src1"), docs)
    )
    pr_f = pool.submit(
        lambda: pagerank(
            docs.select(
                ((_d * 7 + 3) % 53).alias("src"), ((_d * 13 + 5) % 61).alias("dst")
            ),
            max_iters=_PR_ITERS,
            tol=0.0,
        )
    )
    bt_f = pool.submit(
        lambda: bt_strengths(
            docs.select(
                F.pmod(_d, F.lit(7)).alias("key_a"),
                F.pmod(F.pmod(_d * 13 + 5, F.lit(11)), F.lit(7)).alias("key_b"),
                F.pmod(_d, F.lit(2)).cast("double").alias("wins_a"),
            ),
            max_iters=_BT_ITERS,
            tol=0.0,
            smoothing=_BT_SMOOTHING,
        )
    )

    def _metric_rows(g: DataFrame, op: str, k_col, pairs) -> DataFrame:
        """(op, k, metric, v) rows via ONE ``stack`` generator (r11):
        the branch's aggregate subtree is referenced exactly once, where
        the old unionAll-of-projections form copied it once per metric —
        the copies either re-executed per run or forced a per-branch
        checkpoint purely to deduplicate them.  Row multiset is
        identical (same metrics, same casts); the terminal
        orderBy(op, k, metric) fixes the order either way."""
        args = [F.lit(len(pairs))]
        for metric, vcol in pairs:
            args += [F.lit(metric), vcol.cast("long")]
        return g.select(
            F.lit(op).alias("op"),
            k_col.alias("k"),
            F.stack(*args).alias("metric", "v"),
        )

    def two(df: DataFrame, op: str) -> DataFrame:
        g = df.groupBy("source").agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s")
        )
        return _metric_rows(
            g, op, F.col("source"), [("n", F.col("n")), ("sum_ids", F.col("s"))]
        )

    # within_10pct, not 5: rsd=0.02 puts 10% at ~5 sigma, so the predicate
    # holds for any data the driver could regenerate, not just the two
    # scale factors it was observed on — a sketch-accuracy miss must not
    # poison the 12 exact sampling/decontam checks unioned into this entry
    def _hll_branch():
        hll = li.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
            F.countDistinct("l_partkey").alias("ex"),
        )
        return _metric_rows(
            hll,
            "hll",
            F.col("l_returnflag"),
            [
                ("exact_parts", F.col("ex")),
                (
                    "within_10pct",
                    (F.abs(F.col("ap") - F.col("ex")) <= F.col("ex") * 0.10),
                ),
            ],
        )

    hll_rows_f = pool.submit(_hll_branch)

    bench = docs.where(F.col("source") == "src0")
    # contamination_stats feeds BOTH the contam branch and the final
    # union's decontaminate(...) — built once, on a pool thread
    stats_f = pool.submit(lambda: contamination_stats(docs, bench))

    def _contam_branch():
        contam_rows = (
            stats_f.result()
            .join(docs.select(F.col("doc_id").alias("key"), "source"), "key")
            .groupBy("source")
            .agg(F.sum("n_hits").alias("h"), F.sum("n_ngrams").alias("g"))
        )
        return _metric_rows(
            contam_rows,
            "contam",
            F.col("source"),
            [("hits", F.col("h")), ("ngrams", F.col("g"))],
        )

    contam_tagged_f = pool.submit(_contam_branch)

    def _pack_branch():
        packed = pack_contiguous(
            docs.withColumn("__nt", F.size(F.split(F.trim("text"), " "))),
            "__nt",
            "doc_id",
            512,
            n_buckets=8,
        )
        pack_g = packed.groupBy("source").agg(
            F.sum("pack_first").alias("sf"),
            F.sum("pack_offset").alias("so"),
            F.max("pack_last").alias("ml"),
        )
        return _metric_rows(
            pack_g,
            "pack",
            F.col("source"),
            [
                ("sum_first", F.col("sf")),
                ("sum_off", F.col("so")),
                ("max_last", F.col("ml")),
            ],
        )

    pack_rows_f = pool.submit(_pack_branch)

    # stupid-backoff bigram LM trained on src1 only, scored over ALL docs,
    # so cross-source scoring exercises every path: bigram hit, unigram
    # backoff (ln 0.4 discount), and the OOV floor.  Per-source pins:
    # exact (n docs, token sum) + the avg_logp sum rounded to 1e-4 —
    # coarse enough to absorb cross-engine libm ulp + summation-order
    # noise (same discipline as cov_math_funcs' ROUND(...,9)), fine
    # enough that any formula/backoff/count error lands far outside it.
    # The n=3 ladder and exact (unrounded) scores are pytest-mirrored in
    # test_lm.py; n=2 keeps the oracle's candidate/fit CTEs compact.
    # rides the grouped checkpoint (r11): the per-source aggregate is
    # <= n_sources rows but the interpreted higher-order gram
    # expressions evaluate pathologically when planned inside the giant
    # entry union (~90 s observed for the quality branch vs ~1 s
    # standalone at sf0.001) — the ONE grouped checkpoint below fences
    # the heavy branches off exactly as the 13 per-branch checkpoints
    # did, at one toRdd instead of 13
    def _lm_branch():
        lm = lm_fit_f.result()  # fit submitted first, already running
        lm_g = (
            ngram_lm_score(docs, lm)
            .join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum("n_tokens").alias("st"),
                F.round(F.sum("avg_logp") * 10000).cast("long").alias("sl4"),
            )
        )
        return _ckpt(_metric_rows(
            lm_g,
            "lm_ppl",
            F.col("source"),
            [
                ("n", F.col("n")),
                ("sum_tokens", F.col("st")),
                ("logp_1e4", F.col("sl4")),
            ],
        ))

    lm_b_f = pool.submit(_lm_branch)

    # quality-classifier SCORING path (training is iterative → pytest):
    # a fixed literal-gram weight model whose buckets both engines derive
    # from the same md5 formula, applied through the real
    # hashed-features + broadcast-margin + sigmoid pipeline.  Pins per
    # source: n docs, count above the 0.5 keep-threshold, and the score
    # sum at 1e-4 (same ulp discipline as lm_ppl).
    def _quality_branch():
        wdf = spark.createDataFrame(_QUALITY_WEIGHTS, "gram string, w double").select(
            (md5_long("gram") % N_FEATURES).alias("bucket"), "w"
        )
        q_scored = quality_classifier_score(docs, LogRegModel(wdf, _QUALITY_BIAS))
        q_g = q_scored.groupBy("source").agg(
            F.count("*").alias("n"),
            F.sum((F.col("quality_prob") > 0.5).cast("long")).alias("na"),
            F.round(F.sum("quality_prob") * 10000).cast("long").alias("s4"),
        )
        return _ckpt(_metric_rows(
            q_g,
            "quality",
            F.col("source"),
            [("n", F.col("n")), ("n_above", F.col("na")), ("score_1e4", F.col("s4"))],
        ))

    q_b_f = pool.submit(_quality_branch)

    # DSIR importance weights (operators/dsir.py): full fit+score path —
    # target = src1 docs, raw = ALL docs, Laplace-smoothed hashed-bigram
    # log ratios — pinned per source by n docs, exact gram totals, and
    # the log-weight sum at 1e-4 (same ulp discipline as lm_ppl).  The
    # oracle replays the identical md5-bucket counts from its qfeat CTE.
    def _dsir_branch():
        dsm = dsm_f.result()  # fit submitted first, already running
        ds_g = (
            dsir_log_weights(docs, dsm)
            .join(docs.select(F.col("doc_id").alias("key"), "source"), "key")
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum("n_grams").alias("sg"),
                F.round(F.sum("log_w") * 10000).cast("long").alias("l4"),
            )
        )
        return _ckpt(_metric_rows(
            ds_g,
            "dsir",
            F.col("source"),
            [("n", F.col("n")), ("sum_grams", F.col("sg")), ("logw_1e4", F.col("l4"))],
        ))

    ds_b_f = pool.submit(_dsir_branch)

    # fuzzy decontamination (operators/decontam.py:fuzzy_contaminated_keys,
    # MinHash-LSH against src0 as the benchmark): the flagged set is pinned
    # exactly (count + sum of ids per source) — the oracle brute-forces the
    # cross-dataset jaccard, equal to the LSH output w.h.p. at j>=0.8 (the
    # dedup_minhash_lsh recall argument)
    from ballista_spark.operators.decontam import fuzzy_contaminated_keys

    def _fuzzy_branch():
        fz_g = (
            fuzzy_contaminated_keys(
                docs.where(F.col("source") != "src0"), bench, threshold=0.8
            )
            .withColumn("doc_id", F.col("key").cast("long"))
            .join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count("*").alias("n"), F.sum("doc_id").alias("s"))
        )
        return _ckpt(_metric_rows(
            fz_g,
            "fuzzy_contam",
            F.col("source"),
            [("n", F.col("n")), ("sum_ids", F.col("s"))],
        ))

    fz_b_f = pool.submit(_fuzzy_branch)

    # --- round-5 operator families folded into the driver window (round 6):
    # url_canon / chat render+stats+validate / pagerank — each pinned
    # cross-engine through the same (op, k, metric, v) tagged schema.
    from ballista_spark.operators.chat import chat_stats, is_valid_chat, render_chat
    from ballista_spark.operators.graph import pagerank
    from ballista_spark.operators.url import canonicalize_url

    d = F.col("doc_id")

    def _url_branch():
        # synthetic URLs exercising every canonicalization rule: mixed-case
        # scheme/host, userinfo, default + non-default ports, empty and
        # trailing-slash paths, tracking + empty query tokens needing a sort,
        # fragments, and unparseable strings (the passthrough branch)
        raw_url = F.when(
            d % 7 == 0, F.concat(F.lit("not a url "), d.cast("string"))
        ).otherwise(
            F.concat(
                F.lit("HTTPS://User:pw@WWW.Site"),
                (d % 37).cast("string"),
                F.lit(".Example.COM"),
                F.when(d % 3 == 0, F.lit(":443"))
                .when(d % 3 == 1, F.lit(":8443"))
                .otherwise(F.lit("")),
                F.when(d % 4 == 0, F.lit("")).otherwise(
                    F.concat(
                        F.lit("/Path/"),
                        (d % 11).cast("string"),
                        F.when(d % 5 == 0, F.lit("//")).otherwise(F.lit("")),
                    )
                ),
                F.lit("?utm_source=n&b=2&fbclid=x&a=1&"),
                F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
            )
        )
        uc_g = (
            docs.select("source", canonicalize_url(raw_url).alias("cu"))
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(md5_long(F.col("cu")) % 1000000).alias("h"),
            )
        )
        return _metric_rows(
            uc_g,
            "url_canon",
            F.col("source"),
            [("n", F.col("n")), ("md5_1e6", F.col("h"))],
        )

    url_rows_f = pool.submit(_url_branch)

    # conversations synthesized from the documents (token halves as one
    # user/assistant exchange) through the real chat operators; the
    # rendered-template hash pins render_chat byte-for-byte
    def _chat_branch():
        toks = F.split(F.trim(F.col("text")), "\\s+")
        nt = F.size(toks)
        half = F.floor(nt / 2).cast("int")
        msgs = F.array(
            F.struct(
                F.lit("user").alias("role"),
                F.array_join(F.slice(toks, F.lit(1), half), " ").alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.array_join(F.slice(toks, half + F.lit(1), nt - half), " ").alias(
                    "content"
                ),
            ),
        )
        ch_g = (
            docs.select("source", msgs.alias("messages"))
            .select(
                "source",
                render_chat("messages").alias("r"),
                chat_stats("messages").alias("s"),
                is_valid_chat("messages").cast("long").alias("valid"),
            )
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum("valid").alias("nv"),
                F.sum(md5_long(F.col("r")) % 1000000).alias("hr"),
                F.sum(F.col("s.content_chars")).alias("cc"),
                F.sum(F.col("s.n_empty").cast("long")).alias("ne"),
            )
        )

        return _metric_rows(
            ch_g,
            "chat",
            F.col("source"),
            [
                ("n", F.col("n")),
                ("n_valid", F.col("nv")),
                ("render_md5_1e6", F.col("hr")),
                ("content_chars", F.col("cc")),
                ("n_empty", F.col("ne")),
            ],
        )

    chat_rows_f = pool.submit(_chat_branch)

    # PageRank over a doc-derived digraph (multi-edges + dangling nodes
    # by construction); tol=0 pins exactly _PR_ITERS power iterations so
    # the oracle's unrolled CTE ladder computes the identical iterate
    def _pr_branch():
        return pr_f.result().select(  # fit submitted first, already running
            F.lit("pagerank").alias("op"),
            F.col("node").cast("string").alias("k"),
            F.lit("rank_1e6").alias("metric"),
            F.round(F.col("rank") * 1000000).cast("long").alias("v"),
        )

    pr_rows_f = pool.submit(_pr_branch)

    # trained-langid SERVING path (training is iterative → pytest): a
    # fixed literal-gram softmax head scored through the real
    # char-n-gram-hash + broadcast-margin + windowed-softmax pipeline
    # (operators/classify.py); the oracle replays the md5 buckets,
    # including accidental collisions from non-weight grams.  Pins per
    # (source, predicted class): n + argmax-prob sum at 1e-4.
    from ballista_spark.operators.classify import (
        N_FEATURES as _LG_NF,
        SoftmaxModel,
        softmax_predict,
    )

    def _langid_branch():
        lw = spark.createDataFrame(
            _LANGID_WEIGHTS, "y string, gram string, w double"
        ).select("y", F.pmod(md5_long("gram"), F.lit(_LG_NF)).alias("bucket"), "w")
        lmodel = SoftmaxModel(
            weights=lw, biases=dict(_LANGID_BIASES), n_features=_LG_NF, ngrams=(1, 2, 3)
        )
        lg_g = (
            softmax_predict(docs, lmodel)
            .groupBy("source", "pred")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("prob") * 10000).cast("long").alias("p4"),
            )
        )
        return _ckpt(_metric_rows(
            lg_g,
            "langid",
            F.concat(F.col("source"), F.lit("|"), F.col("pred")),
            [("n", F.col("n")), ("prob_1e4", F.col("p4"))],
        ))

    lg_b_f = pool.submit(_langid_branch)

    # robots.txt permission gate (round 6): synthesized URLs over four
    # hosts × three path classes run through the REAL parser + longest-
    # match join (operators/robots.py) with fixed literal rule bodies;
    # the oracle hand-derives the verdicts from RFC 9309 semantics
    # (host3 no-rules → allow; host1's exact 'engine' group Disallow /
    # beats its * group; /private/pub outlengthens Disallow /private;
    # /*.pdf$ anchors) — a known-answer check of the generic machinery.
    from ballista_spark.operators.robots import filter_robots_allowed, parse_robots

    def _robots_branch():
        rb_path = (
            F.when(d % 3 == 0, F.concat(F.lit("/private/x"), (d % 5).cast("string")))
            .when(d % 3 == 1, F.lit("/private/pub/y"))
            .otherwise(F.concat(F.lit("/p"), (d % 7).cast("string"), F.lit(".pdf")))
        )
        rb_urls = docs.select(
            "source",
            F.concat(
                F.lit("https://host"), (d % 4).cast("string"), F.lit(".ex.com"), rb_path
            ).alias("url"),
        )
        star_body = (
            "User-agent: *\nDisallow: /private\nAllow: /private/pub\n"
            "Disallow: /*.pdf$"
        )
        rb_bodies = spark.createDataFrame(
            [
                ("host0.ex.com", star_body),
                ("host1.ex.com", "User-agent: engine\nDisallow: /\nUser-agent: *\nAllow: /"),
                ("host2.ex.com", star_body),
            ],
            "host string, robots_txt string",
        )
        rb_g = (
            filter_robots_allowed(rb_urls, parse_robots(rb_bodies), agent="engine")
            .groupBy("source")
            .agg(
                F.count("*").alias("n"),
                F.sum(md5_long(F.col("url")) % 1000000).alias("h"),
            )
        )
        return _metric_rows(
            rb_g,
            "robots",
            F.col("source"),
            [("n", F.col("n")), ("md5_1e6", F.col("h"))],
        )

    rb_rows_f = pool.submit(_robots_branch)

    # --- round-6 codec/document families folded into the driver window
    # (round 7): baseline JPEG decode, stdlib PDF extraction, rule-based
    # sentence segmentation, audio landmark fingerprint matching — each
    # a known-answer check of the REAL distributed path (mapInPandas
    # decode, regex-split machinery, the fp_hash self-join) over fixed
    # literal inputs.  Every oracle value is derived INDEPENDENTLY of
    # the implementation: JPEG pixels from the T.81 A.3.3 IDCT formula
    # (hand-computed, pinned as literals), the PDF text and sentence
    # strings as SQL literals that DuckDB itself hashes, and the audio
    # alignment offset planted by construction (the clip starts exactly
    # _AFP_SHIFT_FRAMES STFT hops into the track).
    from ballista_spark.operators.audiofp import (
        HOP,
        audio_fingerprints,
        audio_match_pairs,
    )
    from ballista_spark.operators.multimodal import MEDIA_SCHEMA, encode_wav
    from ballista_spark.operators.pdf import pdf_extract_text
    from ballista_spark.operators.text import split_sentences

    def _jpeg_branch():
        jp_df = spark.createDataFrame(
            [(bytes.fromhex(_JPEG_KA_HEX),)], "payload binary"
        )

        def _jp(batches):
            import pandas as _pd

            from ballista_spark.operators.jpeg import decode_jpeg

            for b in batches:
                for p in b["payload"]:
                    img = decode_jpeg(bytes(p))
                    ks = [f"c{j}" for j in range(img.shape[1])]
                    ms = ["px"] * img.shape[1] + ["meta", "meta"]
                    vs = [int(x) for x in img[0]] + [
                        img.shape[0] * 1000 + img.shape[1],
                        int(bool((img == img[0:1, :]).all())),
                    ]
                    yield _pd.DataFrame(
                        {"k": ks + ["shape", "const_rows"], "metric": ms, "v": vs}
                    )

        return _ckpt(
            jp_df.mapInPandas(_jp, "k string, metric string, v long").select(
                F.lit("jpeg").alias("op"), "k", "metric", F.col("v").cast("long")
            )
        )

    jp_b_f = pool.submit(_jpeg_branch)

    def _pdf_branch():
        pdf_df = spark.createDataFrame(
            [(0, bytes.fromhex(_PDF_KA_HEX))], "doc_id long, payload binary"
        )
        pe = pdf_extract_text(pdf_df)
        return _ckpt(_metric_rows(
            pe,
            "pdf",
            F.lit("d0"),
            [("md5_1e6", md5_long("text") % 1000000), ("n_pages", F.col("n_pages"))],
        ))

    pdf_b_f = pool.submit(_pdf_branch)

    def _sent_branch():
        sent_df = spark.createDataFrame(
            [(0, _SENT_KA_TEXT)], "doc_id long, text string"
        )
        # ss is referenced twice (per-sentence rows + the count agg) —
        # a 1-row literal source, so the duplicate subtree is free
        ss = split_sentences(sent_df)
        return _ckpt(
            ss.select(
                F.lit("sent").alias("op"),
                F.col("sentence_id").cast("string").alias("k"),
                F.lit("md5_1e6").alias("metric"),
                (md5_long("sentence") % 1000000).cast("long").alias("v"),
            ).unionAll(
                ss.agg(F.count("*").alias("n")).select(
                    F.lit("sent"), F.lit("all"), F.lit("n"), F.col("n").cast("long")
                )
            )
        )

    sent_b_f = pool.submit(_sent_branch)

    # banned-term keyword screen (round 7, operators/text.py): fixed
    # word + phrase terms over the real documents text through the REAL
    # broadcast n-gram join; the oracle replays the identical word
    # split + unigram/bigram join in SQL (the corpus alphabet is
    # lowercase ASCII, so [^a-z0-9]+ == Spark's \\p{L}\\p{N} here).
    from ballista_spark.operators.text import keyword_hits

    def _kw_branch():
        kw = keyword_hits(docs, list(_KW_TERMS))
        kw_g = (
            kw.join(docs.select(F.col("doc_id").alias("key"), "source"), "key")
            .groupBy("source", "term")
            .agg(
                F.sum("n_occurrences").alias("occ"),
                F.countDistinct("key").alias("nd"),
            )
        )
        kw_k = F.concat(F.col("source"), F.lit("|"), F.col("term"))
        return _ckpt(_metric_rows(
            kw_g, "kwscreen", kw_k, [("occ", F.col("occ")), ("docs", F.col("nd"))]
        ))

    kw_b_f = pool.submit(_kw_branch)

    # Bradley-Terry strengths (round 7, operators/preference.py): a
    # synthetic pairwise-comparison table derived from doc_id runs
    # through the REAL distributed MM fit at a pinned iteration count
    # (tol=0 so exactly _BT_ITERS rounds execute); the oracle unrolls
    # the identical update as chained CTEs — the pagerank discipline.
    from ballista_spark.operators.preference import bt_strengths

    def _bt_branch():
        bt = bt_f.result()  # fit submitted first, already running
        return _ckpt(bt.select(
            F.lit("btrank").alias("op"),
            F.col("item").cast("string").alias("k"),
            F.lit("strength_1e6").alias("metric"),
            F.round(F.col("strength") * 1000000).cast("long").alias("v"),
        ))

    bt_b_f = pool.submit(_bt_branch)

    # data-contract validation (round 7, operators/validate.py): the
    # REAL one-pass contract runs over documents; per check the report's
    # passed flag and leading observed integer pin against a DuckDB
    # replay of the identical statistics (round 8 fold-in)
    from ballista_spark.operators.validate import (
        in_range,
        matches_regex,
        not_null,
        row_count,
        unique,
        validate,
    )

    def _validate_branch():
        # validate() runs its single contract-agg job during construction
        # — on this pool thread it overlaps the other branches' builds
        report, _ok = validate(
            docs,
            [
                row_count(lo=1),
                not_null("text", max_null_frac=0.5),
                unique("doc_id"),
                in_range("doc_id", 0, 1099511627776),
                matches_regex("source", "^src[0-9]+$"),
            ],
        )
        vk = F.concat_ws("|", "check", F.coalesce(F.col("column"), F.lit("-")))
        return _ckpt(_metric_rows(
            report,
            "validate",
            vk,
            [
                ("passed", F.col("passed")),
                ("obs", F.regexp_extract("observed", r"^(-?\d+)", 1)),
            ],
        ))

    val_b_f = pool.submit(_validate_branch)

    # code-curation quality stats (round 7, operators/code.py): the
    # StarCoder line-geometry pass + the published filter defaults over
    # documents, pinned per source as integer aggregates the oracle
    # recomputes with the identical regex arithmetic (round 8 fold-in)
    from ballista_spark.operators.code import (
        code_quality_stats,
        filter_code_quality,
    )

    def _codequal_branch():
        cq = code_quality_stats(docs)
        cq_g = cq.groupBy("source").agg(
            F.sum("n_lines").alias("sl"),
            F.max("max_line_len").alias("ml"),
            F.sum((F.col("frac_alnum") >= 0.25).cast("long")).alias("na"),
            F.sum(F.col("is_autogen").cast("long")).alias("ng"),
        )
        kept_g = (
            filter_code_quality(docs)
            .groupBy("source")
            .agg(F.count("*").alias("nk"))
        )

        return _ckpt(
            _metric_rows(
                cq_g,
                "codequal",
                F.col("source"),
                [
                    ("sum_lines", F.col("sl")),
                    ("max_line", F.col("ml")),
                    ("alnum_ok", F.col("na")),
                    ("autogen", F.col("ng")),
                ],
            ).unionAll(
                _metric_rows(kept_g, "codequal", F.col("source"), [("kept", F.col("nk"))])
            )
        )

    cq_b_f = pool.submit(_codequal_branch)

    def _afp_branch():
        afp_ref, afp_clip = _afp_signals(HOP)

        def _afp_row(mid, sig):
            return (
                mid,
                bytearray(encode_wav(sig, _AFP_RATE)),
                {
                    "modality": "audio", "mime": "audio/wav",
                    "width": None, "height": None, "duration_ms": None,
                },
            )

        afp_media = spark.createDataFrame(
            [_afp_row(1, afp_ref), _afp_row(2, afp_clip)], MEDIA_SCHEMA
        )
        return _ckpt(
            audio_match_pairs(audio_fingerprints(afp_media), min_matches=8)
            .orderBy(F.desc("n_matches"), "offset")
            .limit(1)
            .select(
                F.lit("audiofp").alias("op"),
                F.concat_ws("|", "key_a", "key_b").alias("k"),
                F.lit("offset").alias("metric"),
                F.col("offset").cast("long").alias("v"),
            )
        )

    afp_b_f = pool.submit(_afp_branch)

    # the six sampling/decontam branches of the final union build on pool
    # threads too (each is a moderate expression tree over docs/bench)
    sb_f = pool.submit(lambda: two(hash_sample(docs, ["doc_id"], 0.3), "sample_bernoulli"))
    ss_f = pool.submit(
        lambda: two(
            stratified_sample(
                docs,
                "source",
                {"src0": 1.0, "src1": 0.5, "src2": 0.25},
                ["doc_id"],
                default_rate=0.1,
            ),
            "sample_stratified",
        )
    )
    ts_f = pool.submit(lambda: two(temperature_sample(docs, "source", 0.5, ["doc_id"]), "temp_sample"))
    gc_f = pool.submit(lambda: two(group_cap(docs, ["source"], 5, ["doc_id"]), "group_cap"))
    dk_f = pool.submit(
        lambda: two(decontaminate(docs, bench, 0.2, stats=stats_f.result()), "decontam_keep")
    )
    da_f = pool.submit(
        lambda: two(
            dedup_against(docs.where(F.col("source") != "src0"), bench),
            "dedup_against",
        )
    )

    # resolve every branch-CONSTRUCTION future (construction ran on pool
    # threads, overlapping the ~8k py4j round-trips that used to
    # serialize on the main thread); checkpointing branches yield their
    # _ckpt planning future, resolved in turn.  Then force every marked
    # RDD with ONE covering count over the union of the raw checkpoints
    # (r10 pass 5: a single job whose independent stages run
    # concurrently; every heavy branch is fully materialized, plan
    # truncated, computed exactly once before the entry's union
    # executes).  All branches share the (op, k, metric, v) schema
    # since the r11 stack rewrite, so the raw frames union directly.
    hll_rows = hll_rows_f.result()
    contam_tagged = contam_tagged_f.result()
    pack_rows = pack_rows_f.result()
    url_rows = url_rows_f.result()
    chat_rows = chat_rows_f.result()
    pr_rows = pr_rows_f.result()
    rb_rows = rb_rows_f.result()
    heavy_views = [
        f.result()
        for f in (
            lm_b_f, q_b_f, ds_b_f, fz_b_f, lg_b_f, jp_b_f, pdf_b_f,
            sent_b_f, kw_b_f, bt_b_f, val_b_f, cq_b_f, afp_b_f,
        )
    ]
    try:
        raws = [f.result() for f in deferred_ckpts]
        if raws:
            u = raws[0]
            for r in raws[1:]:
                u = u.unionAll(r)
            u.count()
    finally:
        pool.shutdown()

    out = (
        hll_rows.unionAll(sb_f.result())
        .unionAll(ss_f.result())
        .unionAll(ts_f.result())
        .unionAll(gc_f.result())
        .unionAll(dk_f.result())
        .unionAll(da_f.result())
        .unionAll(contam_tagged)
        .unionAll(pack_rows)
        .unionAll(url_rows)
        .unionAll(chat_rows)
        .unionAll(pr_rows)
        .unionAll(rb_rows)
    )
    # the 13 heavy branches ride their checkpoints; each coalesce(1)
    # view merges the near-empty cached partitions into one task (the
    # coalesce must sit ABOVE the checkpoint — r10 session 4)
    for view in heavy_views:
        out = out.unionAll(view.result())
    return out.orderBy("op", "k", "metric")


#: hand-assembled baseline-JPEG bitstream (the single-AC-coefficient
#: vector of tests/test_jpeg.py, assembled with that file's independent
#: bit-writer): 8x8 grayscale, quant table all-16s, one AC coefficient
#: 3 at zigzag index 1 — the decoded row is the T.81 A.3.3 IDCT of
#: coef[0,1]=48, hand-computed as 136 135 133 130 126 123 121 120 and
#: pinned as literals in the oracle (constant down rows: the 'const_rows'
#: pin catches a transposed decoder that a round-trip would cancel)
_JPEG_KA_HEX = (
    "ffd8ffdb0043001010101010101010101010101010101010101010101010101010101010"
    "1010101010101010101010101010101010101010101010101010101010101010101010ff"
    "c0000b080008000801011100ffc40014000100000000000000000000000000000000ffc4"
    "001510000200000000000000000000000000000200ffda0008010100003f001bffd9"
)

#: row 0 of the decoded 8x8 (constant down rows) — HAND-COMPUTED from
#: the IDCT definition, the oracle's independent expectation
_JPEG_KA_ROW0 = [136, 135, 133, 130, 126, 123, 121, 120]

#: the Tj operand of _PDF_KA_HEX's content stream — what extraction
#: must return; the oracle hashes this literal itself
_PDF_KA_TEXT = "Engines index the web"

#: structurally-honest one-page mini-PDF (catalog, page tree, content
#: stream `... (Engines index the web) Tj ...`, trailer) — the expected
#: text is fixed by the Tj operand, so the oracle hashes the literal
#: string itself
_PDF_KA_HEX = (
    "255044462d312e340a312030206f626a203c3c202f54797065202f436174616c6f67"
    "202f5061676573203220302052203e3e20656e646f626a0a322030206f626a203c3c"
    "202f54797065202f5061676573202f4b696473205b3130203020525d202f436f756e"
    "742031203e3e20656e646f626a0a332030206f626a203c3c202f4c656e6774682035"
    "32203e3e2073747265616d0a4254202f463120313220546620373220373230205464"
    "2028456e67696e657320696e64657820746865207765622920546a2045540a656e64"
    "73747265616d20656e646f626a0a342030206f626a203c3c202f54797065202f466f"
    "6e74202f53756274797065202f5479706531202f42617365466f6e74202f48656c76"
    "6574696361203e3e20656e646f626a0a31302030206f626a203c3c202f5479706520"
    "2f50616765202f506172656e74203220302052202f436f6e74656e74732033203020"
    "52202f5265736f7572636573203c3c202f466f6e74203c3c202f4631203420302052"
    "203e3e203e3e203e3e20656e646f626a0a747261696c6572203c3c202f526f6f7420"
    "3120302052203e3e0a2525454f46"
)

#: fixed paragraph for the graded 'sent' branch — exercises every
#: splitter rule: abbreviation guard (Dr., Fig., vs.), single-initial
#: guard (J.), a quote-closed exclamation that must NOT split before a
#: lowercase continuation, and a digit-start sentence.  The four
#: expected sentences are hand-derived and pinned as oracle literals.
_SENT_KA_TEXT = (
    'Dr. Smith met J. Kline at the lab. "It works!" she said. '
    "See Fig. 2 for the vs. baseline plot. 2024 confirmed it."
)
_SENT_KA_EXPECTED = [
    "Dr. Smith met J. Kline at the lab.",
    '"It works!" she said.',
    "See Fig. 2 for the vs. baseline plot.",
    "2024 confirmed it.",
]

#: keyword-screen terms for the graded 'kwscreen' branch — real corpus
#: vocabulary incl. one bigram phrase and one absent term (which must
#: simply produce no rows, not zeros)
_KW_TERMS = ("scan", "hash join", "zeppelin")

_AFP_RATE = 16000
#: the clip is cut exactly this many STFT hops into the track, so the
#: landmark offset vote must land on this value — by construction, not
#: by replaying the implementation
_AFP_SHIFT_FRAMES = 64


def _afp_signals(hop: int):
    """Deterministic 3 s chord track + a 1 s clip cut at exactly
    ``_AFP_SHIFT_FRAMES`` STFT hops — seeded numpy, no wall-clock."""
    import numpy as np

    rng = np.random.default_rng(11)
    seg = _AFP_RATE // 4
    n = _AFP_RATE * 3
    t = np.arange(seg) / _AFP_RATE
    ref = np.empty(n)
    for i in range(0, n, seg):
        freqs = rng.integers(200, 4000, 3)
        chord = sum(np.sin(2 * np.pi * f * t) for f in freqs)
        ref[i : i + seg] = chord[: n - i]
    ref = ref / np.abs(ref).max() * 0.8
    clip = ref[_AFP_SHIFT_FRAMES * hop : _AFP_SHIFT_FRAMES * hop + _AFP_RATE]
    return ref, clip


#: fixed scoring model for the graded 'quality' branch — grams from the
#: synthetic documents vocabulary; weights deliberately irregular so no
#: margin can sit on the 0.5 threshold
_QUALITY_WEIGHTS = [
    ("join", 1.73), ("hash", -0.91), ("row", 0.63), ("scan", -1.37),
    ("slow", -2.11), ("fast", 1.29), ("table table", 2.41), ("value fast", -1.83),
]
_QUALITY_BIAS = -0.25

#: fixed softmax head for the graded 'langid' branch — grams drawn from
#: the synthetic documents' character content (so weight buckets get
#: real hits), weights/biases irregular so no margin ties occur
_LANGID_WEIGHTS = [
    ("en", "th", 2.13), ("en", " s", 0.77), ("en", "row", 1.41),
    ("de", "sc", 2.71), ("de", "a", 0.39), ("de", "tab", 1.87),
    ("fr", "jo", 2.29), ("fr", "e", 0.51), ("fr", "ast", 1.63),
]
_LANGID_BIASES = {"de": -0.12, "en": 0.31, "fr": -0.05}


#: pinned power-iteration count for the graded 'pagerank' branch — the
#: Spark side runs with tol=0 so exactly this many rounds execute, and
#: the oracle unrolls the same ladder as chained CTEs
_PR_ITERS = 5
_PR_DAMPING = 0.85

#: pinned MM-iteration count + anchor smoothing for the graded 'btrank'
#: branch (same tol=0 / unrolled-CTE discipline as pagerank)
_BT_ITERS = 3
_BT_SMOOTHING = 0.1


def _bt_oracle_ctes() -> str:
    """Unrolled Hunter-2004 MM ladder replaying preference.bt_strengths'
    exact semantics: canonicalized per-pair totals, W_i + smoothing,
    per-round denominator sum + the 2*smoothing/(pi+1) anchor term,
    mean-1 renormalization each round."""
    s = _BT_SMOOTHING
    parts = [
        f"""bt_e AS (
  SELECT lo, hi, SUM(w_lo) + SUM(w_hi) AS n, SUM(w_lo) AS w_lo FROM (
    SELECT CASE WHEN a <= b THEN a ELSE b END AS lo,
           CASE WHEN a <= b THEN b ELSE a END AS hi,
           CASE WHEN a <= b THEN w ELSE 1.0 - w END AS w_lo,
           CASE WHEN a <= b THEN 1.0 - w ELSE w END AS w_hi
    FROM (SELECT doc_id % 7 AS a, ((doc_id * 13 + 5) % 11) % 7 AS b,
                 CAST(doc_id % 2 AS DOUBLE) AS w FROM documents)
    WHERE a <> b)
  GROUP BY lo, hi
)""",
        "bt_items AS (SELECT lo AS item FROM bt_e UNION SELECT hi FROM bt_e)",
        "bt_cnt AS (SELECT COUNT(*) AS n FROM bt_items)",
        f"""bt_w AS (
  SELECT item, SUM(w) + {s} AS wins FROM (
    SELECT lo AS item, w_lo AS w FROM bt_e
    UNION ALL SELECT hi, n - w_lo FROM bt_e) GROUP BY item
)""",
        "bt_p0 AS (SELECT item, 1.0 AS pi FROM bt_items)",
    ]
    for r in range(1, _BT_ITERS + 1):
        prev = f"bt_p{r - 1}"
        parts.append(f"""bt_r{r} AS (
  SELECT i.item,
         w.wins / (COALESCE(sdm.d, 0)
                   + {2.0 * s} / (p.pi + 1.0)) AS raw
  FROM bt_items i
  JOIN {prev} p USING (item)
  JOIN bt_w w USING (item)
  LEFT JOIN (
    SELECT item, SUM(d) AS d FROM (
      SELECT e.lo AS item, e.n / (pl.pi + ph.pi) AS d
      FROM bt_e e JOIN {prev} pl ON e.lo = pl.item
                  JOIN {prev} ph ON e.hi = ph.item
      UNION ALL
      SELECT e.hi, e.n / (pl.pi + ph.pi)
      FROM bt_e e JOIN {prev} pl ON e.lo = pl.item
                  JOIN {prev} ph ON e.hi = ph.item
    ) GROUP BY item) sdm USING (item)
)""")
        parts.append(
            f"bt_p{r} AS (SELECT item, raw / ((SELECT SUM(raw) FROM bt_r{r})"
            f" / (SELECT n FROM bt_cnt)) AS pi FROM bt_r{r})"
        )
    return ",\n".join(parts)


def _pagerank_oracle_ctes() -> str:
    """Unrolled power-iteration CTE ladder replaying graph.pagerank's
    exact semantics: per-edge 1/deg weights (parallel edges count),
    dangling mass redistributed uniformly, rank = (1-d)/n + d*(in +
    dangling/n).  Column named ``pr`` (RANK is a reserved function)."""
    parts = [
        "pr_e AS (SELECT (doc_id*7+3)%53 AS src, (doc_id*13+5)%61 AS dst"
        " FROM documents)",
        "pr_nodes AS (SELECT src AS node FROM pr_e UNION SELECT dst FROM pr_e)",
        "pr_cnt AS (SELECT COUNT(*) AS n FROM pr_nodes)",
        "pr_deg AS (SELECT src, COUNT(*) AS dg FROM pr_e GROUP BY src)",
        "pr_w AS (SELECT e.src, e.dst, 1.0/dg AS w FROM pr_e e"
        " JOIN pr_deg USING (src))",
        "pr_r0 AS (SELECT node, 1.0/(SELECT n FROM pr_cnt) AS pr FROM pr_nodes)",
    ]
    for i in range(1, _PR_ITERS + 1):
        prev = f"pr_r{i - 1}"
        parts.append(f"""pr_r{i} AS (
  SELECT n.node,
         (1.0 - {_PR_DAMPING}) / (SELECT n FROM pr_cnt)
         + {_PR_DAMPING} * (COALESCE(c.m, 0)
             + (SELECT COALESCE(SUM(pr), 0) FROM {prev}
                WHERE node NOT IN (SELECT src FROM pr_deg))
               / (SELECT n FROM pr_cnt)) AS pr
  FROM pr_nodes n LEFT JOIN (
    SELECT w.dst AS node, SUM(r.pr * w.w) AS m
    FROM {prev} r JOIN pr_w w ON r.node = w.src GROUP BY w.dst) c USING (node)
)""")
    return ",\n".join(parts)


def _sketch_sampling_oracle() -> str:
    from ballista_spark.operators.quality import N_FEATURES
    from ballista_spark.operators.sampling import rate_threshold
    from ballista_spark.operators.url import _URL_PARTS_RE, TRACKING_PARAM_RE

    th03 = rate_threshold(0.3)
    qvals = ", ".join(f"('{g}', {w})" for g, w in _QUALITY_WEIGHTS)
    qbias = _QUALITY_BIAS
    nf = N_FEATURES
    upre = _URL_PARTS_RE
    tpre = TRACKING_PARAM_RE
    prctes = _pagerank_oracle_ctes()
    pri = _PR_ITERS
    from ballista_spark.operators.classify import N_FEATURES as lg_nf

    lgvals = ", ".join(f"('{y}', '{g}', {w})" for y, g, w in _LANGID_WEIGHTS)
    lgbias = ", ".join(f"('{y}', {b})" for y, b in sorted(_LANGID_BIASES.items()))
    # known-answer literals for the round-7 codec/document branches —
    # every value here is derived independently of the implementation
    # (see the builder comment)
    btctes = _bt_oracle_ctes()
    bti = _BT_ITERS
    kwvals = ", ".join(f"('{t}')" for t in _KW_TERMS)
    jpx = ", ".join(f"({j}, {v})" for j, v in enumerate(_JPEG_KA_ROW0))
    sentvals = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_SENT_KA_EXPECTED)
    )
    n_sent = len(_SENT_KA_EXPECTED)
    pdf_text = _PDF_KA_TEXT
    afp_off = _AFP_SHIFT_FRAMES
    strat_case = (
        f"CASE WHEN source = 'src0' THEN '{rate_threshold(1.0)}' "
        f"WHEN source = 'src1' THEN '{rate_threshold(0.5)}' "
        f"WHEN source = 'src2' THEN '{rate_threshold(0.25)}' "
        f"ELSE '{rate_threshold(0.1)}' END"
    )
    return f"""
WITH vstats AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS nulls,
         COUNT(doc_id) AS nn_id,
         COUNT(DISTINCT doc_id) AS nd_id,
         SUM(CASE WHEN doc_id IS NOT NULL
                   AND (doc_id < 0 OR doc_id > 1099511627776)
             THEN 1 ELSE 0 END) AS bad_range,
         SUM(CASE WHEN source IS NOT NULL
                   AND NOT REGEXP_MATCHES(source, '^src[0-9]+$')
             THEN 1 ELSE 0 END) AS bad_src
  FROM documents
), cqs AS (
  SELECT source,
         LEN(STRING_SPLIT(text, CHR(10))) AS n_lines,
         COALESCE(LIST_MAX(LIST_TRANSFORM(
             STRING_SPLIT(text, CHR(10)), x -> LENGTH(x))), 0) AS max_line_len,
         ROUND(LENGTH(text)
               / GREATEST(LEN(STRING_SPLIT(text, CHR(10))), 1)::DOUBLE,
               4) AS avg_line_len,
         ROUND(LENGTH(REGEXP_REPLACE(text, '[^\\p{{L}}\\p{{N}}]', '', 'g'))
               / GREATEST(LENGTH(text), 1)::DOUBLE, 4) AS frac_alnum,
         REGEXP_MATCHES(SUBSTR(text, 1, 2000),
           '(?i)(do not edit|auto-?generated|generated by|@generated|'
           || 'this file was generated|code generated by)') AS is_autogen
  FROM documents
), cqg AS (
  -- symmetric CASE (explicit 0 arm): Spark's sum counts false rows as
  -- 0 and skips NULLs — THEN-only CASE would yield NULL when no row
  -- matches
  SELECT source, SUM(n_lines) AS sl, MAX(max_line_len) AS ml,
         SUM(CASE WHEN frac_alnum >= 0.25 THEN 1
                  WHEN frac_alnum < 0.25 THEN 0 END) AS na,
         SUM(CASE WHEN is_autogen THEN 1
                  WHEN NOT is_autogen THEN 0 END) AS ng
  FROM cqs GROUP BY source
), cqk AS (
  SELECT source, COUNT(*) AS nk FROM cqs
  WHERE COALESCE(max_line_len <= 1000 AND avg_line_len <= 100
                 AND frac_alnum >= 0.25 AND NOT is_autogen, FALSE)
  GROUP BY source
), lot AS (
  SELECT doc_id, source,
         SUBSTR(MD5(CONCAT_WS(CHR(31), 'sample', CAST(doc_id AS VARCHAR))), 1, 15) AS lv
  FROM documents
), capd AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
           SUBSTR(MD5(CONCAT_WS(CHR(31), 'cap', CAST(doc_id AS VARCHAR))), 1, 15),
           doc_id) AS rk
  FROM documents
), toks AS (
  SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS l FROM documents
), sh AS (
  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
  FROM toks, UNNEST(GENERATE_SERIES(1, LEN(l) - 2)) AS g(i)
  WHERE LEN(l) >= 3
), bench AS (
  SELECT DISTINCT sh.s FROM sh
  JOIN documents d ON sh.doc_id = d.doc_id AND d.source = 'src0'
), contam AS (
  SELECT sh.doc_id AS key, COUNT(*) AS n_ngrams, COUNT(bench.s) AS n_hits,
         COUNT(bench.s) * 1.0 / COUNT(*) AS c
  FROM sh LEFT JOIN bench ON sh.s = bench.s
  GROUP BY sh.doc_id
), fsz AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), fpairs AS (
  SELECT a.doc_id AS ka, b.doc_id AS kb, COUNT(*) AS inter
  FROM sh a JOIN documents da ON a.doc_id = da.doc_id AND da.source <> 'src0'
       JOIN sh b ON a.s = b.s
       JOIN documents db ON b.doc_id = db.doc_id AND db.source = 'src0'
  GROUP BY 1, 2
), fcon AS (
  SELECT DISTINCT ka FROM fpairs
  JOIN fsz sa ON ka = sa.doc_id JOIN fsz sb ON kb = sb.doc_id
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8
), fzres AS (
  SELECT d.source, COUNT(*) AS n, SUM(d.doc_id) AS s
  FROM fcon JOIN documents d ON fcon.ka = d.doc_id GROUP BY d.source
), hll AS (
  SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS ex FROM lineitem
  GROUP BY l_returnflag
), tcounts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
), tthr AS (
  SELECT source,
         CAST(FLOOR(SQRT(CAST((SELECT MIN(n) FROM tcounts) AS DOUBLE) / n)
                    * 1152921504606846976) AS BIGINT) AS t
  FROM tcounts
), tkept AS (
  SELECT d.doc_id, d.source FROM documents d JOIN tthr USING (source)
  WHERE CAST(CONCAT('0x', SUBSTR(MD5(CONCAT_WS(CHR(31), 'mixture',
            CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT) < tthr.t
), seenh AS (
  SELECT DISTINCT MD5(text) AS h FROM documents WHERE source = 'src0'
), dakept AS (
  SELECT doc_id, source FROM documents
  WHERE source <> 'src0' AND MD5(text) NOT IN (SELECT h FROM seenh)
), ptc AS (
  SELECT doc_id, source, LEN(STRING_SPLIT(TRIM(text), ' ')) AS n_tok,
         CAST(CONCAT('0x', SUBSTR(MD5(CONCAT_WS(CHR(31), 'pack',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS b
  FROM documents
), ploc AS (
  SELECT *, SUM(n_tok) OVER (PARTITION BY b ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lend
  FROM ptc
), pboff AS (
  SELECT b, COALESCE(SUM(t) OVER (ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT b, SUM(n_tok) AS t FROM ptc GROUP BY b)
), pk AS (
  SELECT ploc.source,
         (pboff.off + ploc.lend - ploc.n_tok) // 512 AS pack_first,
         (pboff.off + ploc.lend - ploc.n_tok
          + GREATEST(ploc.n_tok, 1) - 1) // 512 AS pack_last,
         (pboff.off + ploc.lend - ploc.n_tok) % 512 AS pack_offset
  FROM ploc JOIN pboff USING (b)
), lmtr AS (
  -- regex split, not ' ': the Spark side tokenizes on whitespace-runs, and a
  -- testdata regeneration with tabs/newlines/double spaces must not diverge the pair
  SELECT LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'), x -> LEN(x) > 0) AS l
  FROM documents WHERE source = 'src1'
), lmc1 AS (
  SELECT l[i] AS gram, COUNT(*) AS cnt
  FROM lmtr, UNNEST(GENERATE_SERIES(1, LEN(l))) g(i) GROUP BY 1
), lmtot AS (
  SELECT SUM(cnt) AS t FROM lmc1
), lm1 AS (
  SELECT gram, LN(cnt / (SELECT t FROM lmtot)) AS logp FROM lmc1
), lm2 AS (
  SELECT c2.gram, LN(c2.cnt * 1.0 / c1.cnt) AS logp
  FROM (SELECT l[i-1] || ' ' || l[i] AS gram, COUNT(*) AS cnt
        FROM lmtr, UNNEST(GENERATE_SERIES(2, LEN(l))) g(i) GROUP BY 1) c2
  JOIN lmc1 c1 ON SPLIT_PART(c2.gram, ' ', 1) = c1.gram
), lmsc AS (
  SELECT doc_id, LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'), x -> LEN(x) > 0) AS l
  FROM documents
), lmpos AS (
  SELECT doc_id, i, l[i] AS w,
         CASE WHEN i >= 2 THEN l[i-1] || ' ' || l[i] END AS big
  FROM lmsc, UNNEST(GENERATE_SERIES(1, LEN(l))) g(i)
), lmplp AS (
  SELECT p.doc_id,
         CASE WHEN lm2.logp IS NOT NULL THEN lm2.logp
              WHEN lm1.logp IS NOT NULL THEN
                CASE WHEN p.i >= 2 THEN LN(0.4) ELSE 0 END + lm1.logp
              ELSE CASE WHEN p.i >= 2 THEN LN(0.4) ELSE 0 END
                   - LN((SELECT t FROM lmtot) + 1.0)
         END AS lp
  FROM lmpos p LEFT JOIN lm2 ON p.big = lm2.gram
               LEFT JOIN lm1 ON p.w = lm1.gram
), lmdoc AS (
  SELECT doc_id, COUNT(*) AS n_tokens, AVG(lp) AS avg_logp
  FROM lmplp GROUP BY doc_id
), lmres AS (
  SELECT d.source, COUNT(*) AS n, SUM(lmdoc.n_tokens) AS st,
         CAST(ROUND(SUM(lmdoc.avg_logp) * 10000) AS BIGINT) AS sl4
  FROM lmdoc JOIN documents d USING (doc_id) GROUP BY d.source
), qw AS (
  SELECT CAST(CONCAT('0x', SUBSTR(MD5(gram), 1, 15)) AS BIGINT) % {nf} AS bucket, w
  FROM (VALUES {qvals}) t(gram, w)
), qgr AS (
  SELECT doc_id, w AS gram FROM lmpos
  UNION ALL SELECT doc_id, big FROM lmpos WHERE big IS NOT NULL
), qfeat AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTR(MD5(gram), 1, 15)) AS BIGINT) % {nf} AS bucket,
         COUNT(*) AS c
  FROM qgr GROUP BY 1, 2
), qtot AS (
  SELECT doc_id, COUNT(*) AS total FROM qgr GROUP BY 1
), qmarg AS (
  SELECT f.doc_id,
         SUM(COALESCE(qw.w, 0) * (f.c * 1.0 / qtot.total)) + ({qbias}) AS m
  FROM qfeat f JOIN qtot USING (doc_id) LEFT JOIN qw USING (bucket)
  GROUP BY 1
), qsc AS (
  SELECT d.source,
         COALESCE(1.0 / (1.0 + EXP(-qmarg.m)),
                  1.0 / (1.0 + EXP(-({qbias})))) AS p
  FROM documents d LEFT JOIN qmarg USING (doc_id)
), qres AS (
  SELECT source, COUNT(*) AS n,
         SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS na,
         CAST(ROUND(SUM(p) * 10000) AS BIGINT) AS s4
  FROM qsc GROUP BY source
), dsct AS (
  SELECT bucket, SUM(c) AS c FROM qfeat f JOIN documents d ON f.doc_id = d.doc_id
  WHERE d.source = 'src1' GROUP BY bucket
), dscr AS (
  SELECT bucket, SUM(c) AS c FROM qfeat GROUP BY bucket
), dstot AS (
  SELECT (SELECT COALESCE(SUM(c), 0) FROM dsct) AS tt,
         (SELECT COALESCE(SUM(c), 0) FROM dscr) AS tr
), dslr AS (
  SELECT COALESCE(t.bucket, r.bucket) AS bucket,
         LN((COALESCE(t.c, 0) + 1.0) / (dstot.tt + 1.0 * {nf}))
       - LN((COALESCE(r.c, 0) + 1.0) / (dstot.tr + 1.0 * {nf})) AS lr
  FROM dsct t FULL OUTER JOIN dscr r USING (bucket), dstot
), dsfl AS (
  SELECT LN(1.0 / (tt + 1.0 * {nf})) - LN(1.0 / (tr + 1.0 * {nf})) AS f FROM dstot
), dsdoc AS (
  SELECT f.doc_id, SUM(f.c) AS ng, SUM(f.c * COALESCE(dslr.lr, dsfl.f)) AS lw
  FROM qfeat f LEFT JOIN dslr USING (bucket), dsfl
  GROUP BY f.doc_id
), dsres AS (
  SELECT d.source, COUNT(*) AS n,
         CAST(SUM(COALESCE(dsdoc.ng, 0)) AS BIGINT) AS sg,
         CAST(ROUND(SUM(COALESCE(dsdoc.lw, 0.0)) * 10000) AS BIGINT) AS l4
  FROM documents d LEFT JOIN dsdoc ON d.doc_id = dsdoc.doc_id GROUP BY d.source
), ucu AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
         ELSE 'HTTPS://User:pw@WWW.Site' || CAST(doc_id % 37 AS VARCHAR)
              || '.Example.COM'
              || CASE WHEN doc_id % 3 = 0 THEN ':443'
                      WHEN doc_id % 3 = 1 THEN ':8443' ELSE '' END
              || CASE WHEN doc_id % 4 = 0 THEN ''
                      ELSE '/Path/' || CAST(doc_id % 11 AS VARCHAR)
                           || CASE WHEN doc_id % 5 = 0 THEN '//' ELSE '' END END
              || '?utm_source=n&b=2&fbclid=x&a=1&'
              || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END
         END AS url
  FROM documents
), ucp AS (
  SELECT source, url,
         LOWER(REGEXP_EXTRACT(url, '{upre}', 1)) AS scheme,
         LOWER(REGEXP_EXTRACT(url, '{upre}', 3)) AS host,
         REGEXP_EXTRACT(url, '{upre}', 4) AS port,
         REGEXP_EXTRACT(url, '{upre}', 5) AS rawpath,
         LIST_SORT(LIST_FILTER(STRING_SPLIT(
             REGEXP_EXTRACT(url, '{upre}', 6), '&'),
             x -> x <> '' AND NOT REGEXP_MATCHES(x, '{tpre}'))) AS kept
  FROM ucu
), ucc AS (
  SELECT source,
         CASE WHEN host = '' THEN url ELSE
           scheme || '://' || host
           || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
                   OR (scheme = 'ftp' AND port = '21')
                   OR (scheme = 'ws' AND port = '80')
                   OR (scheme = 'wss' AND port = '443')
                   THEN '' ELSE ':' || port END
           || CASE WHEN REGEXP_REPLACE(rawpath, '/+$', '') = '' THEN '/'
                   ELSE REGEXP_REPLACE(rawpath, '/+$', '') END
           || CASE WHEN LEN(kept) = 0 THEN ''
                   ELSE '?' || ARRAY_TO_STRING(kept, '&') END
         END AS cu
  FROM ucp
), chm AS (
  SELECT source,
         ARRAY_TO_STRING(l[1:LEN(l)//2], ' ') AS c1,
         ARRAY_TO_STRING(l[LEN(l)//2+1:LEN(l)], ' ') AS c2
  FROM (SELECT source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS l
        FROM documents)
), chv AS (
  SELECT source,
         CASE WHEN TRIM(c1) <> '' AND TRIM(c2) <> '' THEN 1 ELSE 0 END AS valid,
         CAST(CONCAT('0x', SUBSTR(MD5(
             '<|im_start|>user' || CHR(10) || c1 || '<|im_end|>' || CHR(10)
             || '<|im_start|>assistant' || CHR(10) || c2 || '<|im_end|>'),
             1, 15)) AS BIGINT) % 1000000 AS hmod,
         LEN(c1) + LEN(c2) AS cc,
         (CASE WHEN TRIM(c1) = '' THEN 1 ELSE 0 END)
         + (CASE WHEN TRIM(c2) = '' THEN 1 ELSE 0 END) AS ne
  FROM chm
), lgsrc AS (
  SELECT doc_id, LOWER(text) AS s FROM documents
), lgg AS (
  SELECT doc_id, SUBSTR(s, i, 1) AS gram
  FROM lgsrc, UNNEST(GENERATE_SERIES(1, LEN(s))) g(i)
  UNION ALL
  SELECT doc_id, SUBSTR(s, i, 2)
  FROM lgsrc, UNNEST(GENERATE_SERIES(1, LEN(s) - 1)) g(i)
  UNION ALL
  SELECT doc_id, SUBSTR(s, i, 3)
  FROM lgsrc, UNNEST(GENERATE_SERIES(1, LEN(s) - 2)) g(i)
), lgw AS (
  SELECT y, CAST(CONCAT('0x', SUBSTR(MD5(gram), 1, 15)) AS BIGINT) % {lg_nf}
            AS bucket, w
  FROM (VALUES {lgvals}) t(y, gram, w)
), lgf AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTR(MD5(gram), 1, 15)) AS BIGINT) % {lg_nf}
           AS bucket,
         COUNT(*) AS c
  FROM lgg GROUP BY 1, 2
), lgt AS (
  SELECT doc_id, COUNT(*) AS total FROM lgg GROUP BY 1
), lgm AS (
  SELECT d.doc_id, b.y, COALESCE(s.m, 0) + b.b AS m
  FROM documents d
  CROSS JOIN (VALUES {lgbias}) b(y, b)
  LEFT JOIN (
    SELECT f.doc_id, lgw.y, SUM(lgw.w * (f.c * 1.0 / lgt.total)) AS m
    FROM lgf f JOIN lgt USING (doc_id) JOIN lgw USING (bucket)
    GROUP BY 1, 2
  ) s ON d.doc_id = s.doc_id AND b.y = s.y
), lge AS (
  SELECT doc_id, y, EXP(m - MAX(m) OVER (PARTITION BY doc_id)) AS e FROM lgm
), lgp AS (
  SELECT doc_id, y, e / SUM(e) OVER (PARTITION BY doc_id) AS p FROM lge
), lgtop AS (
  SELECT doc_id, y, p FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY p DESC, y) AS rk FROM lgp)
  WHERE rk = 1
), lgres AS (
  SELECT d.source, t.y, COUNT(*) AS n,
         CAST(ROUND(SUM(t.p) * 10000) AS BIGINT) AS p4
  FROM lgtop t JOIN documents d USING (doc_id) GROUP BY 1, 2
), rb AS (
  -- robots gate verdicts hand-derived from RFC 9309 over the fixed
  -- literal rule bodies (agent='engine'): host3 publishes no robots.txt
  -- (allow); host1's exact 'engine' group Disallow / blocks everything
  -- (the * group's Allow / must NOT apply); on hosts 0/2 the * group
  -- blocks /private (longest match) EXCEPT /private/pub (longer Allow)
  -- and blocks the $-anchored /*.pdf paths
  SELECT source,
         'https://host' || CAST(doc_id % 4 AS VARCHAR) || '.ex.com' ||
         CASE WHEN doc_id % 3 = 0
                THEN '/private/x' || CAST(doc_id % 5 AS VARCHAR)
              WHEN doc_id % 3 = 1 THEN '/private/pub/y'
              ELSE '/p' || CAST(doc_id % 7 AS VARCHAR) || '.pdf' END AS url
  FROM documents
  WHERE (doc_id % 4) = 3
     OR ((doc_id % 4) IN (0, 2) AND (doc_id % 3) = 1)
),
{prctes},
{btctes},
kw_t AS (SELECT * FROM (VALUES {kwvals}) AS t(term)),
kw_words AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     w -> w <> '') AS w
  FROM documents
),
kw_grams AS (
  -- unigrams + bigrams: exactly the phrase lengths in kw_t
  SELECT doc_id, source, w[i] AS g
  FROM kw_words, UNNEST(range(1, len(w) + 1)) AS u(i)
  UNION ALL
  SELECT doc_id, source, w[i] || ' ' || w[i + 1]
  FROM kw_words, UNNEST(range(1, len(w))) AS u(i)
),
kw_hits AS (
  SELECT source, term, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS nd
  FROM kw_grams JOIN kw_t ON g = term GROUP BY source, term
)
SELECT 'hll' AS op, l_returnflag AS k, 'exact_parts' AS metric,
       CAST(ex AS BIGINT) AS v FROM hll
UNION ALL SELECT 'hll', l_returnflag, 'within_10pct', CAST(1 AS BIGINT) FROM hll
UNION ALL SELECT 'sample_bernoulli', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM lot WHERE lv < '{th03}' GROUP BY source
UNION ALL SELECT 'sample_bernoulli', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM lot WHERE lv < '{th03}' GROUP BY source
UNION ALL SELECT 'sample_stratified', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM lot WHERE lv < ({strat_case}) GROUP BY source
UNION ALL SELECT 'sample_stratified', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM lot WHERE lv < ({strat_case}) GROUP BY source
UNION ALL SELECT 'group_cap', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM capd WHERE rk <= 5 GROUP BY source
UNION ALL SELECT 'group_cap', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM capd WHERE rk <= 5 GROUP BY source
UNION ALL SELECT 'decontam_keep', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM documents WHERE doc_id NOT IN (SELECT key FROM contam WHERE c > 0.2)
  GROUP BY source
UNION ALL SELECT 'decontam_keep', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM documents WHERE doc_id NOT IN (SELECT key FROM contam WHERE c > 0.2)
  GROUP BY source
UNION ALL SELECT 'contam', d.source, 'hits', CAST(SUM(n_hits) AS BIGINT)
  FROM contam JOIN documents d ON contam.key = d.doc_id GROUP BY d.source
UNION ALL SELECT 'contam', d.source, 'ngrams', CAST(SUM(n_ngrams) AS BIGINT)
  FROM contam JOIN documents d ON contam.key = d.doc_id GROUP BY d.source
UNION ALL SELECT 'fuzzy_contam', source, 'n', CAST(n AS BIGINT) FROM fzres
UNION ALL SELECT 'fuzzy_contam', source, 'sum_ids', CAST(s AS BIGINT) FROM fzres
UNION ALL SELECT 'temp_sample', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM tkept GROUP BY source
UNION ALL SELECT 'temp_sample', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM tkept GROUP BY source
UNION ALL SELECT 'dedup_against', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM dakept GROUP BY source
UNION ALL SELECT 'dedup_against', source, 'sum_ids', CAST(SUM(doc_id) AS BIGINT)
  FROM dakept GROUP BY source
UNION ALL SELECT 'pack', source, 'sum_first', CAST(SUM(pack_first) AS BIGINT)
  FROM pk GROUP BY source
UNION ALL SELECT 'pack', source, 'sum_off', CAST(SUM(pack_offset) AS BIGINT)
  FROM pk GROUP BY source
UNION ALL SELECT 'pack', source, 'max_last', CAST(MAX(pack_last) AS BIGINT)
  FROM pk GROUP BY source
UNION ALL SELECT 'lm_ppl', source, 'n', CAST(n AS BIGINT) FROM lmres
UNION ALL SELECT 'lm_ppl', source, 'sum_tokens', CAST(st AS BIGINT) FROM lmres
UNION ALL SELECT 'lm_ppl', source, 'logp_1e4', sl4 FROM lmres
UNION ALL SELECT 'quality', source, 'n', CAST(n AS BIGINT) FROM qres
UNION ALL SELECT 'quality', source, 'n_above', CAST(na AS BIGINT) FROM qres
UNION ALL SELECT 'quality', source, 'score_1e4', s4 FROM qres
UNION ALL SELECT 'dsir', source, 'n', CAST(n AS BIGINT) FROM dsres
UNION ALL SELECT 'dsir', source, 'sum_grams', sg FROM dsres
UNION ALL SELECT 'dsir', source, 'logw_1e4', l4 FROM dsres
UNION ALL SELECT 'url_canon', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM ucc GROUP BY source
UNION ALL SELECT 'url_canon', source, 'md5_1e6',
  CAST(SUM(CAST(CONCAT('0x', SUBSTR(MD5(cu), 1, 15)) AS BIGINT) % 1000000)
       AS BIGINT)
  FROM ucc GROUP BY source
UNION ALL SELECT 'chat', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM chv GROUP BY source
UNION ALL SELECT 'chat', source, 'n_valid', CAST(SUM(valid) AS BIGINT)
  FROM chv GROUP BY source
UNION ALL SELECT 'chat', source, 'render_md5_1e6', CAST(SUM(hmod) AS BIGINT)
  FROM chv GROUP BY source
UNION ALL SELECT 'chat', source, 'content_chars', CAST(SUM(cc) AS BIGINT)
  FROM chv GROUP BY source
UNION ALL SELECT 'chat', source, 'n_empty', CAST(SUM(ne) AS BIGINT)
  FROM chv GROUP BY source
UNION ALL SELECT 'pagerank', CAST(node AS VARCHAR), 'rank_1e6',
  CAST(ROUND(pr * 1000000) AS BIGINT) FROM pr_r{pri}
UNION ALL SELECT 'langid', source || '|' || y, 'n', CAST(n AS BIGINT) FROM lgres
UNION ALL SELECT 'langid', source || '|' || y, 'prob_1e4', p4 FROM lgres
UNION ALL SELECT 'robots', source, 'n', CAST(COUNT(*) AS BIGINT)
  FROM rb GROUP BY source
UNION ALL SELECT 'robots', source, 'md5_1e6',
  CAST(SUM(CAST(CONCAT('0x', SUBSTR(MD5(url), 1, 15)) AS BIGINT) % 1000000)
       AS BIGINT)
  FROM rb GROUP BY source
-- round-7 known-answer branches: JPEG pixels hand-computed from the
-- T.81 IDCT definition; PDF/sentence expectations are the literal
-- strings themselves (DuckDB derives the hash); the audio offset is
-- the planted clip position in STFT hops
UNION ALL SELECT 'jpeg', 'c' || CAST(i AS VARCHAR), 'px', CAST(v AS BIGINT)
  FROM (VALUES {jpx}) AS jpx(i, v)
UNION ALL SELECT 'jpeg', 'shape', 'meta', CAST(8008 AS BIGINT)
UNION ALL SELECT 'jpeg', 'const_rows', 'meta', CAST(1 AS BIGINT)
UNION ALL SELECT 'pdf', 'd0', 'md5_1e6',
  CAST(CAST(CONCAT('0x', SUBSTR(MD5('{pdf_text}'), 1, 15)) AS BIGINT)
       % 1000000 AS BIGINT)
UNION ALL SELECT 'pdf', 'd0', 'n_pages', CAST(1 AS BIGINT)
UNION ALL SELECT 'sent', CAST(i AS VARCHAR), 'md5_1e6',
  CAST(CAST(CONCAT('0x', SUBSTR(MD5(txt), 1, 15)) AS BIGINT)
       % 1000000 AS BIGINT)
  FROM (VALUES {sentvals}) AS sv(i, txt)
UNION ALL SELECT 'sent', 'all', 'n', CAST({n_sent} AS BIGINT)
UNION ALL SELECT 'audiofp', '1|2', 'offset', CAST({afp_off} AS BIGINT)
UNION ALL SELECT 'btrank', CAST(item AS VARCHAR), 'strength_1e6',
  CAST(ROUND(pi * 1000000) AS BIGINT) FROM bt_p{bti}
UNION ALL SELECT 'kwscreen', source || '|' || term, 'occ',
  CAST(occ AS BIGINT) FROM kw_hits
UNION ALL SELECT 'kwscreen', source || '|' || term, 'docs',
  CAST(nd AS BIGINT) FROM kw_hits
UNION ALL SELECT 'validate', 'row_count[1,∞]|-', 'passed',
  CAST(n >= 1 AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'row_count[1,∞]|-', 'obs',
  CAST(n AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'not_null(text)|text', 'passed',
  CAST(nulls * 1.0 / GREATEST(n, 1) <= 0.5 AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'not_null(text)|text', 'obs',
  CAST(nulls AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'unique(doc_id)|doc_id', 'passed',
  CAST(nn_id = nd_id AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'unique(doc_id)|doc_id', 'obs',
  CAST(nn_id - nd_id AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'in_range(doc_id)|doc_id', 'passed',
  CAST(bad_range = 0 AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'in_range(doc_id)|doc_id', 'obs',
  CAST(bad_range AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'matches_regex(source)|source', 'passed',
  CAST(bad_src = 0 AS BIGINT) FROM vstats
UNION ALL SELECT 'validate', 'matches_regex(source)|source', 'obs',
  CAST(bad_src AS BIGINT) FROM vstats
UNION ALL SELECT 'codequal', source, 'sum_lines', CAST(sl AS BIGINT) FROM cqg
UNION ALL SELECT 'codequal', source, 'max_line', CAST(ml AS BIGINT) FROM cqg
UNION ALL SELECT 'codequal', source, 'alnum_ok', CAST(na AS BIGINT) FROM cqg
UNION ALL SELECT 'codequal', source, 'autogen',
  CAST(ng AS BIGINT) FROM cqg
UNION ALL SELECT 'codequal', source, 'kept', CAST(nk AS BIGINT) FROM cqk
ORDER BY op, k, metric
"""


_b(
    "cov_sketch_sampling",
    "HLL approx_count_distinct (exact count + sketch-within-5% predicate) "
    "consolidated with the deterministic corpus-surgery operators: "
    "md5-lottery Bernoulli + stratified + temperature-mixture sampling, "
    "per-source document caps, benchmark n-gram decontamination, "
    "fuzzy (MinHash-LSH) benchmark decontamination with a brute-force "
    "cross-jaccard oracle, "
    "incremental dedup against a seen corpus, contiguous sequence "
    "packing (two-level distributed prefix sum), and a stupid-backoff "
    "bigram-LM perplexity scorer (trained on src1, scored cross-source "
    "so backoff + OOV paths fire), and DSIR importance weighting "
    "(Laplace-smoothed hashed-gram log p/q ratios, target=src1 vs raw=all), "
    "plus the round-5 families folded into the driver window (round 6): "
    "URL canonicalization (operators/url.py — full rule set incl. "
    "default-port/tracking-param/sort/passthrough branches, canonical "
    "strings pinned via md5 sums), chat render/validate/stats "
    "(operators/chat.py — ChatML template byte-pinned via md5), and "
    "PageRank (operators/graph.py — 5 pinned power iterations vs an "
    "unrolled CTE ladder, per-node ranks at 1e-6), and the round-6 "
    "robots.txt gate (operators/robots.py — generic parse + longest-"
    "match join over literal rule bodies vs verdicts hand-derived from "
    "RFC 9309: exact-agent-beats-*, Allow-outlengthens-Disallow, "
    "$-anchored wildcards, no-rules hosts), and the round-7 known-answer "
    "branches: baseline JPEG decode (operators/jpeg.py — hand-assembled "
    "bitstream, pixels pinned from the T.81 IDCT definition), stdlib PDF "
    "text extraction (operators/pdf.py — mini-PDF literal, DuckDB hashes "
    "the expected Tj text itself), rule-based sentence segmentation "
    "(operators/text.py:split_sentences — abbreviation/initial/quote/"
    "digit rules vs hand-derived sentences), audio landmark "
    "fingerprint matching (operators/audiofp.py — the offset vote must "
    "recover the planted clip position), Bradley-Terry strengths "
    "(operators/preference.py — pinned 3-round MM fit vs an unrolled "
    "CTE ladder, the pagerank discipline), and the banned-term keyword "
    "screen (operators/text.py — broadcast word/phrase n-gram join vs "
    "the identical split+join replayed in SQL), and the round-8 "
    "fold-ins: data-contract validation (operators/validate.py — the "
    "real one-pass contract over documents, per-check passed flag + "
    "observed integer vs DuckDB recomputing the identical statistics) "
    "and code-curation quality stats (operators/code.py — StarCoder "
    "line geometry + the published filter defaults, per-source integer "
    "aggregates vs the identical regex arithmetic in SQL) "
    "— every selected set / token layout pinned exactly cross-engine "
    "(count + sum of ids per source; packing via window-id/offset sums; "
    "LM/quality/DSIR via integer totals + float sums at 1e-4).",
    _sketch_sampling_builder,
    oracle=_sketch_sampling_oracle(),
)
