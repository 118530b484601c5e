"""The benchmark's workloads.  Each stresses a different layer of the
engine, so a change to one layer should move one workload and leave the
others flat:

- ``tpch_flight_sf0.1``: the ten TPC-H headline queries in spec dialect
  (``exec``: scan, join, aggregate, shuffle; ``plans``) and two bulk
  exports over Arrow Flight (``flight``: JVM -> Arrow -> gRPC).
- ``corpus_sf0.01``: driver-bound entries of the graded corpus through
  ``__spark_entry__.queries()`` (``queries`` / ``operators`` builders,
  ``sources.registry`` table loads, ``plans``).
- ``lakehouse_sf0.01``: Delta appends, MERGE, UPDATE, DELETE, compaction
  and stats-skipped reads (``sources.deltalog`` / ``sources.fsio``).

A workload generates its inputs from the seed once (``generate``), runs
the engine's set-up (``setup``, repeated; the last copy is used), prepares
the expected answers outside the engine (``prepare``), and returns one
pass of operations in a seeded order (``operations``); ``end_pass`` closes
a pass's per-layer book-keeping.  An operation's ``run`` is the timed call
into the engine; its ``check`` compares the answer and returns ``None`` or
the reason it is wrong.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import datagen
import measure

#: TPC-H headline queries (the reference's integration set plus the
#: heavier subquery and wide-join shapes), as in the repository's bench.py
HEADLINE = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10",
            "tpch_q12", "tpch_q2", "tpch_q9", "tpch_q18", "tpch_q21"]
#: graded-corpus entries: cov_csv_select, whose warm time is mostly
#: DataFrame building (it writes and re-reads CSV, Delta, Iceberg and Hudi
#: tables while building), and six light operator pipelines
CORPUS = ["cov_csv_select", "dedup_minhash_lsh", "text_langid", "text_stats",
          "text_token_regex", "emb_label_centroids", "multimodal_meta"]


@dataclass
class Op:
    name: str
    run: object  # () -> answer
    check: object  # (answer) -> str | None
    counters: dict = field(default_factory=dict)


def _duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _duck_answer(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def query_op(b, name: str, build, check_fn, expected) -> Op:
    """Build a DataFrame through a public entry point, then collect it;
    traced passes also force the physical plan and read its metrics."""
    want_cols, want_rows = expected

    def run():
        with b.tracer.span("queries.build", "queries"):
            df = build()
        if b.tracer.enabled:
            with b.tracer.span("plans.executed_plan", "plans"):
                measure.force_executed_plan(df)
        with b.tracer.span("exec.collect", "exec"):
            rows = df.collect()
        if b.tracer.enabled:
            b.record_plan(df)
        return df.columns, rows

    return Op(name, run, lambda answer: check_fn(*answer, want_cols, want_rows))


def _linked_copy(src: str, dst: str) -> str:
    """``dst`` holding hard links to ``src``'s files: a new directory (so
    the registry's per-directory cache misses) at no copying cost."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for f in os.listdir(src):
        os.link(os.path.join(src, f), os.path.join(dst, f))
    return dst


class Workload:
    """Base: inputs are generated once into ``src_dir``; each set-up
    repetition registers a fresh linked copy, and the last one is used."""

    tables: tuple[str, ...] = ()
    #: passes run before measuring; they compile, warm the JIT and fill the
    #: engine's caches
    warmup_passes = 1

    def __init__(self, bench) -> None:
        self.b = bench
        self.src_dir = os.path.join(bench.work, "src")
        self.data_dir = ""

    def setup(self, rep: int) -> None:
        from ballista_spark.sources.registry import register_tables

        self.data_dir = _linked_copy(self.src_dir, os.path.join(self.b.work, f"data{rep}"))
        with self.b.setup_timer("registry.register"):
            register_tables(self.b.spark, self.data_dir, self.tables)

    def end_pass(self, traced: bool) -> None:
        pass

    def layer_counters(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


class TpchFlightWorkload(Workload):
    """The ten TPC-H headline queries in spec dialect, answered against
    DuckDB running each query's oracle SQL, plus two bulk exports over
    Arrow Flight checked against in-process ``toArrow()``."""

    sf = 0.1
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def generate(self) -> None:
        tables = datagen.tpch_tables(self.sf, self.b.seed)
        datagen.write_tables(self.src_dir, tables)
        # a quarter of the order keys: ~150k lineitem rows, every column
        n = tables["orders"].num_rows
        lo = int(np.random.default_rng(self.b.seed).integers(0, n - n // 4))
        self.exports = {
            "export_orders": {"table": "orders"},
            "export_lineitem_range": {"sql": f"SELECT * FROM lineitem WHERE l_orderkey >= {lo} "
                                             f"AND l_orderkey < {lo + n // 4}"},
        }

    def prepare(self) -> None:
        import pyarrow.flight as fl

        from ballista_spark.flight import start_flight_server
        from ballista_spark.queries.tpch import TPCH_QUERIES

        con = _duck_views(self.data_dir)
        self.expected = {q: _duck_answer(con, TPCH_QUERIES[q].oracle_text()) for q in HEADLINE}
        con.close()
        spark = self.b.spark
        for name in self.exports:
            self.expected[name] = self.checksum(self.to_arrow(name))
        self.server = start_flight_server(spark, "grpc://127.0.0.1:0")
        self.client = fl.connect(f"grpc://127.0.0.1:{self.server.port}")

    def to_arrow(self, name: str):
        """The export's request answered in-process, without Flight."""
        req, spark = self.exports[name], self.b.spark
        return (spark.sql(req["sql"]) if "sql" in req else spark.table(req["table"])).toArrow()

    def layer_counters(self) -> dict[str, float]:
        """``flight.toarrow_s``: the pass's exports through in-process
        ``toArrow``, warm (median of three each), beside ``do_get``."""
        total = 0.0
        for name in self.exports:
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                self.to_arrow(name)
                times.append(time.perf_counter() - t0)
            total += statistics.median(times)
        return {"flight.toarrow_s": total}

    @staticmethod
    def checksum(table) -> tuple[list[str], list[tuple]]:
        """A one-row answer: the row count, then per column the sum of its
        values (string columns: of their lengths; dates and times: as
        integers)."""
        sums = [table.num_rows]
        for col in table.columns:
            if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                col = pc.utf8_length(col)
            elif pa.types.is_temporal(col.type):
                col = col.cast(pa.int64())
            sums.append(pc.sum(col).as_py())
        return [f"c{i}" for i in range(len(sums))], [tuple(sums)]

    def export_op(self, name: str) -> Op:
        import pyarrow.flight as fl

        op = Op(name, None, None)
        ticket = fl.Ticket(json.dumps(self.exports[name]).encode())
        want_cols, want_rows = self.expected[name]

        def fetch():
            c = op.counters
            batches = []
            t0 = time.perf_counter()
            with self.b.tracer.span("flight.do_get", "flight"):
                reader = self.client.do_get(ticket)
                for chunk in reader:
                    if not batches:
                        c["first_batch_s"] = time.perf_counter() - t0
                    batches.append(chunk.data)
            c.update(batches=len(batches),
                     rows=sum(x.num_rows for x in batches),
                     bytes=sum(x.nbytes for x in batches))
            return pa.Table.from_batches(batches, reader.schema)

        def verify(table):
            return check.rows_equal(*self.checksum(table), want_cols, want_rows)

        op.run, op.check = fetch, verify
        return op

    def operations(self, rng) -> list[Op]:
        from ballista_spark.queries.base import spec_dialect
        from ballista_spark.queries.tpch import TPCH_QUERIES

        spark = self.b.spark
        ops = [query_op(self.b, q, lambda q=q: spark.sql(spec_dialect(TPCH_QUERIES[q].sql)),
                        check.tpch_matches, self.expected[q]) for q in HEADLINE]
        ops += [self.export_op(name) for name in self.exports]
        return [ops[i] for i in rng.permutation(len(ops))]

    def self_test(self) -> None:
        check.self_test(check.tpch_matches, *self.expected["tpch_q1"])
        check.self_test(check.rows_equal, *self.expected["export_orders"])

    def close(self) -> None:
        if hasattr(self, "server"):
            self.client.close()
            self.server.shutdown()


class CorpusWorkload(Workload):
    """The ``CORPUS`` entries of the graded corpus, built through
    ``__spark_entry__.queries()`` over the sf0.01 TPC-H tables and the
    pipeline corpora, and answered against DuckDB running each entry's
    oracle SQL (every entry in ``CORPUS`` has one) with the oracle gate's
    value hash."""

    sf = 0.01
    tables = TpchFlightWorkload.tables + ("documents", "embeddings", "events")

    def generate(self) -> None:
        datagen.write_tables(self.src_dir, {**datagen.tpch_tables(self.sf, self.b.seed),
                                            **datagen.corpus_tables(self.b.seed)})

    def prepare(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        oracle = __spark_entry__.oracle_sql()
        con = _duck_views(self.data_dir)
        self.expected = {n: _duck_answer(con, oracle[n]) for n in CORPUS}
        con.close()

    def operations(self, rng) -> list[Op]:
        spark, data_dir = self.b.spark, self.data_dir
        ops = [query_op(self.b, n, lambda n=n: self.queries[n](spark, data_dir),
                        check.value_hash_matches, self.expected[n]) for n in CORPUS]
        return [ops[i] for i in rng.permutation(len(ops))]

    def self_test(self) -> None:
        check.self_test(check.value_hash_matches, *self.expected["emb_label_centroids"])


#: what the lakehouse checks compare between the table and its mirror
_TOTALS = ("count(*) AS n", "sum(l_quantity) AS q")


def _totals_match(spark_rows, duck_cursor) -> str | None:
    return check.rows_equal(list(_TOTALS), spark_rows, list(_TOTALS), duck_cursor.fetchall())


def _tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


class LakehouseWorkload(Workload):
    """A Delta table of ``rows`` lineitem-projection rows (unique
    ``l_orderkey``) in 16 files range-clustered on the key.  A pass MERGEs,
    UPDATEs and DELETEs narrow key bands and reads a stats-skipped band, in
    a seeded order, then re-clusters the table (compaction with
    ``cluster_by``) and appends new keys last.  A pass is five commits, so
    the append of every second pass lands on a multiple of the writer's
    default 10-version checkpoint interval (the writer checkpoints only
    from appends).  Every commit is mirrored on an in-memory DuckDB table,
    and the table's row count and ``SUM(l_quantity)`` are compared with the
    mirror's after it."""

    rows = 60_000
    files = 16
    key = "l_orderkey"
    # its passes are short, and with one warm-up pass the next ones still
    # sped up by ~30% as the JIT compiled the Delta commit paths
    warmup_passes = 3

    def generate(self) -> None:
        self.rng = np.random.default_rng(self.b.seed)
        self.inputs = os.path.join(self.b.work, "in")
        os.makedirs(self.inputs)
        self.n_inputs = self.user_bytes = 0
        # even keys only: a MERGE band then updates the even keys in it and
        # inserts the odd ones, so its output file stays as narrow as the band
        self.base = self._input(np.arange(0, 2 * self.rows, 2))
        self.target_file_bytes = os.path.getsize(self.base) // self.files
        self.next_key = 2 * self.rows

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from ballista_spark.sources.deltalog import write_delta_table

        self.table = os.path.join(self.b.work, f"table{rep}")
        df = self.b.spark.read.parquet(self.base)
        df = df.repartitionByRange(self.files, F.col(self.key)).sortWithinPartitions(self.key)
        write_delta_table(df, self.table)

    def prepare(self) -> None:
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.base}')")
        self.seen = _tree_files(self.table)
        self.state: dict[str, float] = {}
        self.flows: list[dict[str, float]] = []
        self._new_pass()

    def _new_pass(self) -> None:
        self.user_bytes = self.bytes_written = 0
        self.removes: list[int] = []

    def _input(self, keys: np.ndarray) -> str:
        """A parquet batch of rows with the given keys; its size counts as
        the pass's user data."""
        path = os.path.join(self.inputs, f"b{self.n_inputs}.parquet")
        self.n_inputs += 1
        pq.write_table(datagen.lakehouse_batch(self.rng, keys), path)
        self.user_bytes += os.path.getsize(path)
        return path

    def _new_keys(self, n: int) -> np.ndarray:
        self.next_key += n
        return np.arange(self.next_key - n, self.next_key)

    def _band(self, width: int) -> tuple[int, int]:
        lo = int(self.rng.integers(0, self.next_key - width))
        return lo, lo + width

    def _after_commit(self) -> str | None:
        """Book-keeping and the mirror compare after one commit."""
        from ballista_spark.sources.deltalog import read_delta_snapshot, read_delta_table

        with self.b.tracer.span("deltalog.snapshot", "deltalog"):
            snap = read_delta_snapshot(self.table)
        commit = os.path.join(self.table, "_delta_log", f"{snap.version:020d}.json")
        with open(commit, encoding="utf-8") as fh:
            self.removes.append(sum('"remove"' in line for line in fh))
        now = _tree_files(self.table)
        self.bytes_written += sum(s for p, (s, m) in now.items() if self.seen.get(p) != (s, m))
        self.seen, self.snap = now, snap
        got = read_delta_table(self.b.spark, self.table).selectExpr(*_TOTALS).collect()
        return _totals_match(got, self.duck.execute(f"SELECT {', '.join(_TOTALS)} FROM t"))

    def operations(self, rng) -> list[Op]:
        """One pass; its inputs and key bands are drawn before it starts."""
        from ballista_spark.sources import deltalog as dl

        spark, table, key, n = self.b.spark, self.table, self.key, self.rows
        span, duck = self.b.tracer.span, self.duck

        def between(lo, hi):
            return f"{key} >= {lo} AND {key} < {hi}"

        def filters(lo, hi):
            return [(key, ">=", lo), (key, "<", hi)]

        def append(path):
            with span("deltalog.write", "deltalog"):
                dl.write_delta_table(spark.read.parquet(path), table)
            duck.execute(f"INSERT INTO t SELECT * FROM read_parquet('{path}')")

        def merge(path):
            with span("deltalog.merge", "deltalog"):
                dl.merge_delta_table(spark, table, spark.read.parquet(path), on=[key])
            src = f"read_parquet('{path}')"
            duck.execute(f"DELETE FROM t WHERE {key} IN (SELECT {key} FROM {src})")
            duck.execute(f"INSERT INTO t SELECT * FROM {src}")

        def update(lo, hi):
            with span("deltalog.update", "deltalog"):
                dl.update_delta_table(spark, table, {"l_quantity": "l_quantity + 1"},
                                      filters=filters(lo, hi))
            duck.execute(f"UPDATE t SET l_quantity = l_quantity + 1 WHERE {between(lo, hi)}")

        def delete(lo, hi):
            with span("deltalog.delete", "deltalog"):
                dl.delete_from_delta_table(spark, table, filters(lo, hi))
            duck.execute(f"DELETE FROM t WHERE {between(lo, hi)}")

        def compact():
            # clustered rewrite of the whole table, so every pass's
            # operations start from the same 16-file range layout plus the
            # previous pass's append
            with span("deltalog.compact", "deltalog"):
                dl.compact_delta_table(spark, table, target_file_bytes=self.target_file_bytes,
                                       cluster_by=[key])

        def read(lo, hi):
            with span("deltalog.read", "deltalog"):
                df = dl.read_delta_table(spark, table, filters=filters(lo, hi))
                df = df.where(between(lo, hi)).selectExpr(*_TOTALS)
                if self.b.tracer.enabled:
                    with span("plans.executed_plan", "plans"):
                        measure.force_executed_plan(df)
                with span("exec.collect", "exec"):
                    got = df.collect()
            if self.b.tracer.enabled:
                self.b.record_plan(df)
            return got, duck.execute(f"SELECT {', '.join(_TOTALS)} FROM t WHERE {between(lo, hi)}")

        def commit(name, fn, *args):
            return Op(name, lambda: fn(*args), lambda _: self._after_commit())

        ops = [
            commit("merge", merge, self._input(np.arange(*self._band(n // 200)))),
            commit("update", update, *self._band(n // 100)),
            commit("delete", delete, *self._band(n // 200)),
            Op("read", lambda band=self._band(n // 20): read(*band),
               lambda answer: _totals_match(*answer)),
        ]
        ops = [ops[i] for i in rng.permutation(len(ops))]
        return ops + [commit("compact", compact),
                      commit("append", append, self._input(self._new_keys(n // 100)))]

    def self_test(self) -> None:
        rows = self.duck.execute(f"SELECT {', '.join(_TOTALS)} FROM t").fetchall()
        check.self_test(check.rows_equal, list(_TOTALS), rows)

    def end_pass(self, traced: bool) -> None:
        """Traced passes record their flows (bytes and files written,
        files each commit removed); the first also records the table's
        state, which is then after the same number of commits in every run."""
        if traced:
            self.flows.append({
                "deltalog.bytes_written": self.bytes_written,
                "deltalog.files_rewritten_per_op": float(np.mean(self.removes)),
                "write_amp": self.bytes_written / self.user_bytes,
            })
        if traced and not self.state:
            log = os.path.join(self.table, "_delta_log")
            live = sum(f.size for f in self.snap.files)
            self.state = {
                "deltalog.versions": self.snap.version + 1,
                "deltalog.checkpoints": len(glob.glob(os.path.join(log, "*.checkpoint*.parquet"))),
                "deltalog.files_live": self.snap.num_files,
                "deltalog.files_total": sum(not p.startswith(log) for p in self.seen),
                "deltalog.bytes_live": live,
                "space_amp": sum(s for s, _ in self.seen.values()) / live,
            }
        self._new_pass()

    def layer_counters(self) -> dict[str, float]:
        flows = {k: statistics.median(f[k] for f in self.flows) for k in self.flows[0]}
        return {**self.state, **flows}


WORKLOADS = {
    "tpch_flight_sf0.1": TpchFlightWorkload,
    "corpus_sf0.01": CorpusWorkload,
    "lakehouse_sf0.01": LakehouseWorkload,
}
