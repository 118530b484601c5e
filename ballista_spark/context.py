"""BallistaContext — session management, table registry, SQL entry point.

Reference surface: ``rust/client/src/context.rs:87-143`` (read_csv,
read_parquet, register_table, sql) and the Python bindings
``python/src/context.rs:18-139`` (``BallistaContext(host, port, **settings)``,
``read_csv(path, schema, has_header, delimiter, file_extension,
schema_infer_max_records)``, ``register_parquet``, …).

On Spark there is no remote scheduler to dial — ``SparkSession`` *is* the
scheduler — so the constructor takes session options instead of host/port.
NdJson, declared but unfinished in the reference (``ballista.proto:244-248``),
is fully supported via ``spark.read.json``.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ballista_spark.dataframe import BallistaDataFrame
from ballista_spark.session import get_spark, tune_session
from ballista_spark.types import schema as _schema


class BallistaContext:
    """Entry point mirroring ``BallistaContext`` (client + python bindings)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        master: str | None = None,
        **settings: str,
    ):
        if spark is not None:
            self.spark = tune_session(spark)
        else:
            self.spark = get_spark(master=master, extra_conf=dict(settings) or None)
        self._tables: dict[str, DataFrame] = {}
        #: name -> (format, path) for the MUTABLE lakehouse tables the
        #: SQL DML router (ballista_spark.dml) may target
        self._lakehouse: dict[str, tuple[str, str]] = {}

    # -- readers (python/src/context.rs:48-83) --------------------------------

    def read_parquet(self, path: str) -> BallistaDataFrame:
        return BallistaDataFrame(self.spark.read.parquet(path))

    def read_csv(
        self,
        path: str,
        schema: T.StructType | Mapping[str, str] | None = None,
        has_header: bool = False,
        delimiter: str = ",",
        file_extension: str = ".csv",
        schema_infer_max_records: int = 1000,
    ) -> BallistaDataFrame:
        """CSV scan with the reference's option names
        (python/src/context.rs:84-139). ``file_extension`` supports the
        TPC-H ``.tbl`` pipe-delimited variant
        (rust/benchmarks/tpch/src/main.rs:130-139) via path glob.

        ``schema_infer_max_records`` has the reference's *exact* record-cap
        semantics (python/src/context.rs:126-129): the schema is inferred
        from at most that many records, then the full path is scanned with
        the pinned schema — Spark's native ``samplingRatio`` is ratio-based
        and would read every record at 1.0."""
        reader = self.spark.read.option("header", has_header).option("delimiter", delimiter)
        if file_extension and file_extension != ".csv":
            path = path.rstrip("/") + f"/*{file_extension}" if "*" not in path and not path.endswith(file_extension) else path
        if schema is not None:
            if isinstance(schema, Mapping):
                schema = _schema(schema)
        else:
            schema = self._infer_csv_schema(
                path, has_header, delimiter, int(schema_infer_max_records)
            )
        return BallistaDataFrame(reader.schema(schema).csv(path))

    def _infer_csv_schema(
        self, path: str, has_header: bool, delimiter: str, max_records: int
    ) -> T.StructType:
        """Record-capped CSV schema inference: read at most ``max_records``
        lines (driver-side, bounded by contract — the reference client did
        the same), drop repeated per-file header lines, and let Spark's CSV
        inference type the sample.

        Known approximations (inference-only — the actual scan reads every
        row with the pinned schema): a data line byte-equal to the header is
        excluded from the sample, and for multi-file globs the per-file
        repeated headers count against the record cap before removal, so
        inference may see slightly fewer than ``max_records`` data rows.
        Line boundaries per file aren't visible from ``spark.read.text``
        without an extra pass; both effects can only widen inferred types,
        never corrupt the scan."""
        lines = [
            r.value for r in self.spark.read.text(path).limit(max_records + 1).collect()
        ]
        if has_header and lines:
            header = lines[0]
            lines = [header] + [l for l in lines[1:] if l != header]
        lines = lines[: max_records + (1 if has_header else 0)]
        sample = self.spark.sparkContext.parallelize(lines, 1)
        return (
            self.spark.read.option("header", has_header)
            .option("delimiter", delimiter)
            .option("inferSchema", True)
            .csv(sample)
            .schema
        )

    def read_json(self, path: str, schema: T.StructType | Mapping[str, str] | None = None) -> BallistaDataFrame:
        """NdJson scan (declared in reference FileType enum, never finished)."""
        reader = self.spark.read
        if schema is not None:
            if isinstance(schema, Mapping):
                schema = _schema(schema)
            reader = reader.schema(schema)
        return BallistaDataFrame(reader.json(path))

    def read_orc(self, path: str) -> BallistaDataFrame:
        """ORC scan — beyond the reference's FileType enum (CSV/Parquet/NdJson,
        ballista.proto:244-248); native columnar source with the same
        pushdown/pruning properties as parquet."""
        return BallistaDataFrame(self.spark.read.orc(path))

    def read_avro(self, path: str) -> BallistaDataFrame:
        """Avro scan (reference parity: ballista.proto:246 AvroFormat,
        rust/client/src/context.rs read_avro).  Prefers the JVM
        spark-avro datasource when its jars are present (fastest, full
        type surface); falls back to the engine's pure-Python container
        codec (sources/avroio.py — stdlib zigzag/deflate, Arrow-batched
        block streaming) so Avro works on the stock pip pyspark this
        repo targets."""
        try:
            return BallistaDataFrame(self.spark.read.format("avro").load(path))
        except Exception:  # jars absent: the pure-Python path
            from ballista_spark.sources.avroio import read_avro as _read_avro

            return BallistaDataFrame(_read_avro(self.spark, path))

    def read_arrow(self, path: str, path_glob: str = "*.arrow*") -> BallistaDataFrame:
        """Arrow IPC / Feather-v2 scan — the reference's own data-plane
        format (shuffle partitions and results are IPC files,
        rust/core/src/utils.rs:49-84), served here as a first-class
        jar-free source (sources/arrowipc.py)."""
        from ballista_spark.sources.arrowipc import read_arrow_ipc

        return BallistaDataFrame(read_arrow_ipc(self.spark, path, path_glob=path_glob))

    # -- registry (rust/client/src/context.rs:112-128) ------------------------

    def register_table(self, name: str, df: BallistaDataFrame | DataFrame) -> None:
        sdf = df.df if isinstance(df, BallistaDataFrame) else df
        # re-registering a name revokes any lakehouse DML binding it had
        # (register_delta/register_iceberg re-add theirs after) — a stale
        # entry would let DML mutate the OLD table behind the new view
        self._lakehouse.pop(name, None)
        self._tables[name] = sdf
        sdf.createOrReplaceTempView(name)

    def register_parquet(self, name: str, path: str) -> None:
        self.register_table(name, self.spark.read.parquet(path))

    def register_csv(self, name: str, path: str, **options) -> None:
        self.register_table(name, self.read_csv(path, **options))

    def register_json(self, name: str, path: str, **options) -> None:
        self.register_table(name, self.read_json(path, **options))

    def register_orc(self, name: str, path: str) -> None:
        self.register_table(name, self.read_orc(path))

    def register_delta(
        self, name: str, path: str, version: int | None = None
    ) -> None:
        """Register a Delta table as BOTH a readable view and a DML
        target — ``ctx.sql("DELETE FROM name ...")`` etc. route to the
        transactional ops (ballista_spark.dml)."""
        from ballista_spark.sources.deltalog import read_delta_table

        self.register_table(name, read_delta_table(self.spark, path, version=version))
        if version is None:
            # a PINNED historical version is a read-only view: DML would
            # mutate latest and silently re-point the view, losing the pin
            self._lakehouse[name] = ("delta", path)

    def register_iceberg(
        self, name: str, path: str, snapshot_id: int | None = None
    ) -> None:
        """Register an Iceberg table as BOTH a readable view and a DML
        target (see :meth:`register_delta`)."""
        from ballista_spark.sources.iceberg import read_iceberg_table

        self.register_table(
            name, read_iceberg_table(self.spark, path, snapshot_id=snapshot_id)
        )
        if snapshot_id is None:
            self._lakehouse[name] = ("iceberg", path)

    def _refresh_lakehouse_view(self, name: str) -> None:
        """Re-point the registered view at the table's NEW snapshot after
        a mutation (the registered DataFrame pins file lists at
        registration time)."""
        fmt, path = self._lakehouse[name]
        if fmt == "delta":
            self.register_delta(name, path)
        else:
            self.register_iceberg(name, path)

    def tables(self) -> list[str]:
        return sorted(self._tables)

    def table(self, name: str) -> BallistaDataFrame:
        return BallistaDataFrame(self.spark.table(name))

    # -- SQL (rust/client/src/context.rs:131-143) -----------------------------

    def sql(self, query: str) -> BallistaDataFrame:
        """Run SQL over the registered tables. The reference parsed with
        DataFusion's frontend; Spark SQL parses the same TPC-H dialect
        (date literals, intervals, EXISTS/IN subqueries, substring FROM/FOR —
        SURVEY.md §7.3.4).  DELETE/UPDATE/MERGE/VACUUM/OPTIMIZE against a
        registered Delta/Iceberg table route to the transactional storage
        ops (ballista_spark.dml) — stock Spark SQL refuses them without
        catalog jars."""
        from ballista_spark.dml import execute_dml, parse_dml

        # INSERT/ALTER on a table that is NOT a registered lakehouse
        # table is legitimate Spark SQL (catalog tables, views) and
        # parses to None.  DELETE/UPDATE/MERGE/VACUUM/OPTIMIZE keep the
        # loud DmlError: stock Spark refuses those without catalog jars
        # anyway, and the error names the registered mutable tables.
        stmt = parse_dml(query, self.spark, self._lakehouse)
        if stmt is not None:
            return BallistaDataFrame(execute_dml(self, stmt))
        return BallistaDataFrame(self.spark.sql(query))

    # -- UDF registration (beyond parity: the reference declares
    # Expr::ScalarUDF/AggregateUDF but its serde is unimplemented! —
    # to_proto.rs:1013-1014; Spark's Arrow-vectorized pandas UDFs give the
    # surface for free) ------------------------------------------------------

    def register_udf(self, name: str, fn, return_type, vectorized: bool = True):
        """Register a Python scalar function usable from SQL and DataFrames.

        ``vectorized=True`` (default) wraps ``fn`` as an Arrow-batched
        pandas UDF — ``fn`` receives/returns ``pandas.Series`` and runs
        per batch (~10-100x the row-at-a-time form; the documented UDF
        guidance in functions.py applies: built-ins first, pandas UDF when
        Python is unavoidable, row-at-a-time only for quick prototypes).
        Returns the registered callable for DataFrame-side use.
        """
        if vectorized:
            from pyspark.sql.functions import pandas_udf

            return self.spark.udf.register(name, pandas_udf(fn, return_type))
        from pyspark.sql.functions import udf

        return self.spark.udf.register(name, udf(fn, return_type))

    def register_udaf(self, name: str, fn, return_type):
        """Register a grouped-aggregate pandas UDF (Series -> scalar) usable
        in SQL GROUP BY / DataFrame agg — the AggregateUDF surface the
        reference declares but never implemented.  The Series->scalar
        type hints on the wrapper select the grouped-agg UDF kind (the
        non-deprecated SPARK-28264 inference); ``return_type`` supplies
        the actual Spark return schema."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _agg(s):
            return fn(s)

        # real objects, not strings: this module's `from __future__ import
        # annotations` would otherwise leave hints pyspark can't resolve
        _agg.__annotations__ = {"s": pd.Series, "return": float}

        return self.spark.udf.register(name, pandas_udf(_agg, return_type))

    # -- DDL: CREATE EXTERNAL TABLE (ballista.proto:236-248) ------------------

    def create_external_table(
        self, name: str, path: str, file_type: str = "parquet",
        schema: T.StructType | Mapping[str, str] | None = None, **options,
    ) -> None:
        ft = file_type.lower()
        if ft in ("parquet",):
            self.register_parquet(name, path)
        elif ft in ("csv", "tbl"):
            self.register_csv(name, path, schema=schema, **options)
        elif ft in ("json", "ndjson"):
            self.register_json(name, path, schema=schema, **options)
        elif ft == "orc":
            self.register_orc(name, path)
        elif ft == "avro":
            self.register_table(name, self.read_avro(path))
        elif ft in ("arrow", "ipc", "feather"):
            self.register_table(
                name,
                self.read_arrow(
                    path,
                    path_glob=options.get(
                        "path_glob",
                        "*.feather" if ft == "feather" else "*.arrow*",
                    ),
                ),
            )
        elif ft == "delta":
            self.register_delta(name, path, version=options.get("version"))
        elif ft == "iceberg":
            self.register_iceberg(
                name, path, snapshot_id=options.get("snapshot_id")
            )
        elif ft == "hudi":
            from ballista_spark.sources.hudi import read_hudi_table

            self.register_table(
                name,
                read_hudi_table(
                    self.spark, path, as_of_instant=options.get("as_of_instant")
                ),
            )
        else:
            raise ValueError(f"unsupported file type: {file_type}")

    # -- file metadata (rust/scheduler/src/lib.rs:184-222 GetFileMetadata) ----

    def parquet_schema(self, path: str) -> T.StructType:
        """Schema of a parquet file/directory without planning a query —
        the reference scheduler's ``GetFileMetadata`` RPC
        (``rust/scheduler/src/lib.rs:184-222``, parquet-only there too).

        Reads footer metadata only (no data pages): pyarrow's dataset probe
        when available, else a Spark scan's inferred schema (footer-only as
        well — Spark never touches row groups for ``.schema``).

        TIMESTAMP(NANOS) columns (e.g. the driver's ``events.ts``) report as
        ``timestamp`` — matching the canonical loader
        (``sources/registry.load_table``), which reads nanos as long and
        rebuilds a microsecond TimestampType column.  The Spark fallback
        probes with ``nanosAsLong`` on retry, so it never throws on such
        files, but reports those columns as ``bigint`` (without pyarrow the
        footer's logical-type detail isn't visible to name which columns to
        rebuild).
        """
        try:
            import pyarrow.dataset as ds

            arrow_schema = ds.dataset(path, format="parquet").schema
            return T.StructType.fromDDL(
                ", ".join(
                    f"`{f.name}` {self._arrow_to_spark_ddl(f.type)}"
                    for f in arrow_schema
                )
            )
        except Exception:
            try:
                return self.spark.read.parquet(path).schema
            except Exception:
                # isolated child session: flipping nanosAsLong on the shared
                # session would leak into any query planned concurrently
                # (SQL confs are session-scoped, newSession() gets its own)
                probe = self.spark.newSession()
                probe.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                return probe.read.parquet(path).schema

    @staticmethod
    def _arrow_to_spark_ddl(t) -> str:
        import pyarrow as pa

        if pa.types.is_timestamp(t):
            return "timestamp"
        if pa.types.is_list(t):
            inner = BallistaContext._arrow_to_spark_ddl(t.value_type)
            return f"array<{inner}>"
        mapping = {
            "int8": "tinyint", "int16": "smallint", "int32": "int",
            "int64": "bigint", "float": "float", "double": "double",
            "string": "string", "large_string": "string", "bool": "boolean",
            "binary": "binary", "large_binary": "binary",
            "date32[day]": "date",
        }
        key = str(t)
        if key in mapping:
            return mapping[key]
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        raise ValueError(f"unmapped arrow type: {t}")

    # -- convenience for the driver's test data -------------------------------

    def register_sf_dir(self, sf_dir: str) -> None:
        """Register every parquet table in a TESTDATA.md scale-factor dir."""
        import glob
        import os

        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            self.register_parquet(os.path.splitext(os.path.basename(p))[0], p)
