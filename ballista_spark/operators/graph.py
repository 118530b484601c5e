"""Link-graph operators: PageRank over an edge list.

Crawl-scale corpus curation uses link-graph centrality as a quality
prior — Common-Crawl-derived corpora rank hosts by harmonic centrality /
PageRank to pick what to fetch and keep (the public CC host-level
ranking project; Page et al. 1999).  The engine's dedup clustering
(`dedup.connected_components`) already walks edges; PageRank is the
weighted companion.

Spark-idiomatic shape — the textbook distributed power iteration:

- the edge list is normalized ONCE (per-source degree join → per-edge
  weight) and checkpointed; every iteration reuses that frame,
  so the big side is scanned but never re-derived.
- one iteration = ONE edge-sized join (ranks → edges on src) + ONE
  groupBy(dst) sum — two hash shuffles, both edge-sized — plus the
  dangling mass as a one-row aggregate cross-joined onto the update.
  With ``tol > 0`` the round's one action is the node-sized L1 delta;
  a fixed round count runs none.  No corpus-sized driver state: ranks
  live distributed; the driver sees only scalars.  Rounds run through
  ``iterate.iterate``, which owns the per-round checkpoint.

Semantics (pinned by the numpy mirror in tests/test_graph.py):

- directed edges; PARALLEL edges count as multiplicity (a page linking
  twice contributes twice — dedupe upstream if unwanted); self-loops are
  ordinary edges.
- dangling nodes (no out-edges) redistribute their mass uniformly over
  ALL nodes — the standard stochastic-matrix completion, so ranks sum
  to 1 every iteration (asserted in tests to 1e-12).
- convergence: L1 delta < ``tol``, else ``max_iters`` (returning the
  last iterate — power iteration degrades gracefully; no hard error,
  unlike CC where non-convergence means a broken invariant).

Reference parity: the reference ships no graph operators
(`rust/core/proto/ballista.proto` — relational surface only); this is
pipeline-completing functionality like the dedup clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballista_spark.operators.iterate import iterate


def out_degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_deg) for every node, including sinks with 0 — the
    dangling-node audit view.  Two bounded aggregations."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_deg")
    )
    return nodes.join(deg, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iters: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """(node, rank) — PageRank of every node in the edge list; ranks sum
    to 1.  See the module docstring for semantics and the per-iteration
    shuffle budget.
    """
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    # per-edge transition weight, derived once and reused every round;
    # lazily checkpointed — round 1's aggregation (the first action that
    # touches it) materializes it, after which every round reads cache
    weighted = (
        e.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("__deg")).alias("w"))
        .localCheckpoint(eager=False)
    )
    # has_out rides on the rank frame so the dangling mass is a
    # filter+sum over ranks, not a join per round; the node set is
    # derived once — the count materializes the checkpoint, and the
    # first ranks are a projection over it
    flagged = (
        out_degrees(e)
        .select("node", (F.col("out_deg") > 0).alias("has_out"))
        .localCheckpoint(eager=False)
    )
    n = flagged.count()
    if n == 0:
        return flagged.select("node", F.lit(1.0).alias("rank"))
    ranks = flagged.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    # the L1 delta needs each round's previous rank; a fixed round count
    # (tol <= 0) carries none and runs no per-round action
    prev = [F.col("rank").alias("__prev")] if tol > 0 else []

    def step(ranks: DataFrame) -> DataFrame:
        # the dangling mass rides as a ONE-ROW aggregate cross-joined onto
        # the update (the 1-row broadcast pattern planlint allows)
        dm = ranks.agg(
            (
                F.coalesce(F.sum(F.when(~F.col("has_out"), F.col("rank"))), F.lit(0.0))
                / F.lit(float(n))
            ).alias("__dangling")
        )
        contrib = (
            ranks.join(weighted, ranks["node"] == weighted["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("__in"))
        )
        return (
            ranks.join(contrib, "node", "left")
            .crossJoin(dm)
            .select(
                "node",
                "has_out",
                *prev,
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("__in", F.lit(0.0)) + F.col("__dangling"))
                ).alias("rank"),
            )
        )

    def l1(ranks: DataFrame) -> float:
        d = ranks.agg(F.sum(F.abs(F.col("rank") - F.col("__prev"))))
        return float(d.first()[0])

    ranks = iterate(ranks, step, max_iters, tol, l1 if prev else None).state
    return ranks.select("node", "rank")
