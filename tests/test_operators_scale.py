"""Scale-hardening regression tests for the round-2 operator fixes:

- exact_dedup must not broadcast the corpus-sized canonical map (window
  plan, no join);
- minhash_lsh_pairs must survive mass-duplicated boilerplate (exact-group
  collapse + bucket cap) and still equal the brute-force answer;
- range_join how='left' must keep unmatched points (true left semantics)
  and refuse to silently truncate intervals wider than max_bins;
- salted_join's salt must actually split a hot key across reducers.
"""

from __future__ import annotations

from unittest import mock

import pytest
from pyspark.sql import functions as F

from ballista_spark.operators.classify import softmax_fit
from ballista_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from ballista_spark.operators.graph import pagerank
from ballista_spark.operators.partitioning import row_salt
from ballista_spark.operators.preference import bt_strengths
from ballista_spark.operators.quality import logreg_fit
from ballista_spark.operators.rangejoin import range_join
from ballista_spark.sources.registry import load_table
from tests.conftest import SF_SMOKE
from tests.test_iterate import fit_inputs, job_stages, one_job_per_action


def test_exact_dedup_plan_has_no_broadcast(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    text = exact_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in text
    assert "Window" in text


def _boilerplate_corpus(spark, n_identical=150, n_near=80):
    """n_identical byte-identical docs + n_near docs sharing a 40-token
    boilerplate prefix with one unique suffix token each (pairwise jaccard
    ≈ 38/42 ≈ 0.90 > 0.8) + short docs below the 3-token shingle gate."""
    boiler = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, boiler + " common common") for i in range(n_identical)]
    rows += [
        (1000 + i, boiler + f" unique{i}") for i in range(n_near)
    ]
    rows += [(2000 + i, "too short") for i in range(5)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_survives_degenerate_duplicates_and_matches_brute_force(spark):
    """Mass-duplicated docs (the 100 TB skew edge): the exact-group collapse
    keeps signature work on distinct texts, the >BUCKET_CAP near-identical
    cluster exercises the streamed self-join path, and the result still
    equals the exact brute-force jaccard answer."""
    df = _boilerplate_corpus(spark)
    got = {
        (r.key_a, r.key_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    want = {
        (r.key_a, r.key_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    assert got == want
    # sanity on the expected structure: C(150,2) identical pairs present,
    # short docs absent
    n_ident = 150 * 149 // 2
    assert sum(1 for v in got.values() if v == 1.0) >= n_ident
    assert not any(k[0] >= 2000 or k[1] >= 2000 for k in got)


def test_minhash_cross_call_cache_hits_and_stays_correct(spark):
    """The cross-call intermediate cache (round-5: shingle/signature work
    paid once per corpus per process) must (a) actually hit on a
    semantically identical input, (b) return byte-identical results on the
    hit, (c) serve a different threshold from the same cached entry
    (threshold is downstream of the cached stages), and (d) NOT reuse
    state for a semantically different input."""
    from ballista_spark.operators import dedup as D

    df = _boilerplate_corpus(spark, n_identical=20, n_near=10)
    D.clear_minhash_cache()
    first = {
        (r.key_a, r.key_b): round(r.jaccard, 9)
        for r in D.minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    assert len(D._MINHASH_CACHE) == 1
    (entry_key,) = D._MINHASH_CACHE
    # (a)+(b): identical re-read → same cache entry, identical results
    again = {
        (r.key_a, r.key_b): round(r.jaccard, 9)
        for r in D.minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    assert again == first
    assert list(D._MINHASH_CACHE) == [entry_key]
    # (c): a looser threshold reuses the same entry and is a superset
    loose = {
        (r.key_a, r.key_b)
        for r in D.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert list(D._MINHASH_CACHE) == [entry_key]
    assert set(first) <= loose
    # (d): a different corpus (one doc dropped) gets its own entry and
    # result — no stale reuse
    df2 = df.where(F.col("doc_id") != 1000)
    other = {
        (r.key_a, r.key_b)
        for r in D.minhash_lsh_pairs(df2, threshold=0.8).collect()
    }
    assert len(D._MINHASH_CACHE) == 2
    assert not any(1000 in k for k in other)
    assert any(1000 in k for k in first)
    D.clear_minhash_cache()
    assert len(D._MINHASH_CACHE) == 0


def test_minhash_cache_concurrent_callers_single_build(spark):
    """Two threads asking for the same key must produce ONE cache entry
    (the second waits for the builder and hits), identical results, and
    no leftover in-flight markers — the round-5 concurrency review item
    (a lost duplicate build orphans its persisted frames)."""
    import threading

    from ballista_spark.operators import dedup as D

    df = _boilerplate_corpus(spark, n_identical=20, n_near=10)
    D.clear_minhash_cache()
    results, errors = {}, []
    build_calls = []
    orig = D._minhash_signatures

    def counting(sh, n_hashes=D.N_HASHES):
        build_calls.append(1)  # only a cache MISS reaches signature work
        return orig(sh, n_hashes)

    D._minhash_signatures = counting
    try:
        def run(tag):
            try:
                results[tag] = {
                    (r.key_a, r.key_b)
                    for r in D.minhash_lsh_pairs(df, threshold=0.8).collect()
                }
            except Exception as exc:  # pragma: no cover - surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        D._minhash_signatures = orig
    assert not errors
    assert results[0] == results[1] and results[0]
    assert len(build_calls) == 1  # second caller waited, then hit
    assert len(D._MINHASH_CACHE) == 1
    assert D._MINHASH_INFLIGHT == {}
    D.clear_minhash_cache()


def _events_interval_frames(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    points = ev.select("user_id", "ts", "event_id")
    intervals = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end"),
    )
    return points, intervals


def test_range_join_left_matches_duckdb(spark, duck):
    points, intervals = _events_interval_frames(spark)
    got = sorted(
        (r.event_id, r.signup_id)
        for r in range_join(
            points, intervals, by="user_id", bin_width="30 minute", how="left"
        )
        .select("event_id", "signup_id")
        .collect()
    )
    duck.execute("SET schema 'smoke'")
    want = sorted(
        (eid, sid)
        for eid, sid in duck.sql(
            """
            SELECT e.event_id, s.signup_id
            FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                  FROM events) e
            LEFT JOIN (
              SELECT user_id, event_id AS signup_id,
                     CAST(ts AS TIMESTAMP) AS s_ts,
                     CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e_ts
              FROM events WHERE event_type = 'signup'
            ) s ON e.user_id = s.user_id AND e.ts >= s.s_ts AND e.ts < s.e_ts
            """
        ).fetchall()
    )
    assert got == want
    assert any(sid is None for _, sid in got)  # left rows actually survive


def test_range_join_inner_still_matches_duckdb(spark, duck):
    points, intervals = _events_interval_frames(spark)
    got = sorted(
        (r.event_id, r.signup_id)
        for r in range_join(
            points, intervals, by="user_id", bin_width="30 minute", how="inner"
        )
        .select("event_id", "signup_id")
        .collect()
    )
    duck.execute("SET schema 'smoke'")
    want = sorted(
        duck.sql(
            """
            SELECT e.event_id, s.signup_id
            FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
                  FROM events) e
            JOIN (
              SELECT user_id, event_id AS signup_id,
                     CAST(ts AS TIMESTAMP) AS s_ts,
                     CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e_ts
              FROM events WHERE event_type = 'signup'
            ) s ON e.user_id = s.user_id AND e.ts >= s.s_ts AND e.ts < s.e_ts
            """
        ).fetchall()
    )
    assert got == want


def test_range_join_rejects_unknown_how(spark):
    points, intervals = _events_interval_frames(spark)
    with pytest.raises(ValueError, match="inner.*left"):
        range_join(points, intervals, how="right")


def test_range_join_max_bins_raises_not_truncates(spark):
    points, intervals = _events_interval_frames(spark)
    wide = intervals.withColumn("end", F.col("start") + F.expr("INTERVAL 48 HOUR"))
    with pytest.raises(Exception, match="max_bins"):
        range_join(
            points, wide, by="user_id", bin_width="1 minute", max_bins=100
        ).count()


def test_row_salt_splits_hot_key(spark):
    """The whole point of salting: one hot key must spread over many salts
    (a key-derived salt collapses to a single value — the round-1 bug)."""
    hot = spark.range(10_000).select(F.lit("hot").alias("k"), F.col("id"))
    n = hot.select(row_salt(16).alias("s")).distinct().count()
    assert n == 16


def test_bucketed_embedding_ops_have_no_allpairs_join(spark):
    """The graded dedup/ANN scale paths must plan bucket equi-joins — never
    a cartesian / broadcast-nested-loop over the corpus."""
    from ballista_spark.operators.similarity import ivf_ann_topk, lsh_neardup_pairs

    emb = load_table(spark, SF_SMOKE, "embeddings")
    lsh_plan = (
        lsh_neardup_pairs(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in lsh_plan
    assert "BroadcastNestedLoopJoin" not in lsh_plan
    ivf_plan = (
        ivf_ann_topk(emb, emb.where(F.col("vec_id") < 10))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # IVF's only non-equi join is against the n_cells-row (6-row) centroid
    # aggregate — broadcast of a constant, which is the legitimate pattern;
    # a cartesian over the corpus itself must never appear
    assert "CartesianProduct" not in ivf_plan


def test_lsh_prunes_candidates_with_margin(spark):
    """In the production regime (threshold 0.8+, defaults 8 planes × 16
    tables) the bucket join must touch a small fraction of the pair space —
    and still find every planted near-dup exactly.

    Clustered data: 40 planted pairs at cosine ≥ 0.97 (tiny perturbations)
    inside 400 random background vectors (64-dim background cosine ≈ 0±0.12,
    far below threshold)."""
    import numpy as np

    from ballista_spark.operators.similarity import (
        _as_double,
        _lsh_candidates,
        embedding_neardup_pairs,
        lsh_neardup_pairs,
    )

    rng = np.random.default_rng(7)
    base_vecs = rng.normal(size=(400, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base_vecs)]
    # planted near-dups: ids 1000+i is a small perturbation of vector i
    for i in range(40):
        pert = base_vecs[i] + rng.normal(scale=0.05, size=64)
        rows.append((1000 + i, [float(x) for x in pert]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    got = sorted(
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(emb, threshold=0.8).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.8).collect()
    )
    assert got == want
    assert len(want) >= 40  # every planted pair present in the ground truth

    base = emb.select(F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v"))
    n = emb.count()
    n_pairs = n * (n - 1) // 2
    n_cand = _lsh_candidates(base, dim=64, n_planes=8, n_tables=16).count()
    # 16 tables × 2^-8 background selectivity ≈ 6% of the pair space;
    # assert an order-of-magnitude prune with headroom for clustering
    assert n_cand < n_pairs * 0.25, (n_cand, n_pairs)


def test_minhash_plan_has_no_cartesian(spark):
    from ballista_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------- components


def test_connected_components_chain_and_cliques(spark):
    """A 12-link chain (worst diameter per edge), two cliques, and an
    isolated pair all collapse to min-key components, well within the
    O(log d) round budget."""
    from ballista_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 22)]       # one component: 10
    clique = [(a, b) for a in range(1, 4) for b in range(a + 1, 4)]  # comp 1
    extra = [(100, 200)]                              # comp 100
    pairs = spark.createDataFrame(chain + clique + extra, "key_a long, key_b long")
    got = {r["key"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == (
        {k: 10 for k in range(10, 23)}
        | {k: 1 for k in range(1, 4)}
        | {100: 100, 200: 100}
    )


def test_connected_components_match_union_find_on_random_graphs(spark):
    """Fixed-seed randomized equivalence: min-label propagation +
    pointer jumping vs a plain-Python union-find on random edge sets
    (sparse, dense, and self-loop-bearing) — structure the hand-built
    chain/clique cases can't cover."""
    import random

    from ballista_spark.operators.dedup import connected_components

    for seed, n_nodes, n_edges in [(0, 60, 40), (1, 40, 120), (2, 80, 80)]:
        rng = random.Random(seed)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {}
        for v in touched:
            root = find(v)
            want[v] = min(u for u in touched if find(u) == root)
        pairs = spark.createDataFrame(edges, "key_a long, key_b long")
        got = {
            r["key"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == want, seed


def test_asof_join_matches_pandas_merge_asof_on_random_data(spark):
    """Fixed-seed randomized equivalence vs pandas.merge_asof (backward,
    exact matches allowed, per-key) — ties at equal ts, no-match heads,
    and cross-key isolation beyond the graded events-table oracle."""
    import random

    import pandas as pd

    from ballista_spark.operators.asof import asof_join

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        lrows = [
            (rng.randrange(3), rng.randrange(200), i) for i in range(60)
        ]
        # right side unique per (uid, ts): merge_asof tie order on
        # duplicate keys is positional, not semantic — exclude it
        seen, rrows = set(), []
        while len(rrows) < 30:
            uid, ts = rng.randrange(3), rng.randrange(200)
            if (uid, ts) not in seen:
                seen.add((uid, ts))
                rrows.append((uid, ts, float(len(rrows))))
        left = spark.createDataFrame(lrows, "uid long, ts long, pid long")
        right = spark.createDataFrame(rrows, "uid long, ts long, px double")
        got = {
            r["pid"]: r["px_asof"]
            for r in asof_join(left, right, on="ts", by="uid").collect()
        }
        lpd = pd.DataFrame(lrows, columns=["uid", "ts", "pid"]).sort_values("ts")
        rpd = pd.DataFrame(rrows, columns=["uid", "ts", "px"]).sort_values("ts")
        m = pd.merge_asof(lpd, rpd, on="ts", by="uid", direction="backward")
        want = {
            int(r.pid): (None if pd.isna(r.px) else float(r.px))
            for r in m.itertuples()
        }
        assert got == want, seed


#: fit → its returned frame (the model's weights for the classifiers)
_FIT_RESULTS = {
    "connected_components": lambda d: connected_components(d["pairs"]),
    "pagerank": lambda d: pagerank(d["edges"], max_iters=2),
    "bt_strengths": lambda d: bt_strengths(d["pairs"], max_iters=2),
    "logreg_fit": lambda d: logreg_fit(d["feats"], d["labels"], n_iters=2).weights,
    "softmax_fit": lambda d: softmax_fit(d["feats"], d["labels"], n_iters=2).weights,
}


@pytest.mark.parametrize("fit", list(_FIT_RESULTS))
def test_fit_result_is_materialized(spark, fit):
    """Every fit returns the final round's materialized checkpoint: a
    consumer's plan contains NO joins/aggregates, and reading it is one
    job of one stage, so using the result can never replay the
    iterative rounds (the recompute-explosion regression fixed in round
    4: lazy persists were dropped before materializing, so every round
    and every consumer re-ran the whole chain from the edges)."""
    with one_job_per_action(spark):
        got = _FIT_RESULTS[fit](fit_inputs(spark))
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan and "Aggregate" not in plan, plan
        assert job_stages(spark.sparkContext, f"read-{fit}", got.collect) == [
            [mock.ANY]
        ]


def test_connected_components_string_keys(spark):
    from ballista_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "key_a string, key_b string"
    )
    got = {r["key"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_resolve_duplicates_end_to_end(spark):
    """minhash pairs -> components -> exactly one survivor per cluster,
    non-duplicated docs untouched."""
    from ballista_spark.operators.dedup import minhash_lsh_pairs, resolve_duplicates

    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),                      # cluster {1,2,3} via chained edits
        (2, base + "alpha"),
        (3, base + "alpha beta"),
        (10, "completely different text about spark and parquet " * 8),
        (11, "completely different text about spark and parquet " * 8 + "zz"),
        (50, "an unrelated singleton document with its own words " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, threshold=0.5)
    out = resolve_duplicates(df, pairs).collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    canon = sorted(r["doc_id"] for r in out if r["is_canonical"])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[50] == 50
    assert canon == [1, 10, 50]


def test_ivf_store_prunes_partitions_and_matches_in_memory(spark, tmp_path):
    """The cell-partitioned IVF store scans ONLY probed cells' files
    (partition pruning as the index) and returns exactly what the
    in-memory ivf_ann_topk computes with the same trained centroids."""
    from ballista_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_store_topk,
        kmeans_fit,
        write_ivf_store,
    )
    from ballista_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(emb, 8, max_iters=3, spherical=True)
    path = str(tmp_path / "ivf_store")
    write_ivf_store(emb, cents, path)

    queries = emb.limit(2)
    got = ivf_store_topk(spark, path, queries, cents, k=5, n_probe=2)
    # pruning: the store-side FileScan carries a partition IN-filter over
    # the probed cells (inputFiles() reflects the pre-pruning relation, so
    # assert on the executed plan, where pruning actually lives)
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    [pf] = re.findall(r"PartitionFilters: \[cell#\d+ IN \(([0-9,]+)\)", plan)
    assert 1 <= len(pf.split(",")) <= 2 * 2  # <= n_queries * n_probe cells

    expect = ivf_ann_topk(emb, queries, k=5, n_probe=2, centroids=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))


def test_ivf_store_append_equals_full_rebuild(spark, tmp_path):
    """Incremental ingest: write half the corpus, append the other half
    under the same frozen quantizer — searches must equal a one-shot
    store of the full corpus, and the appended files must land only in
    the batch's own cell partitions."""
    import glob as _g

    from ballista_spark.operators.similarity import (
        ivf_store_append,
        ivf_store_topk,
        kmeans_fit,
        write_ivf_store,
    )
    from ballista_spark.sources.registry import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(emb, 8, max_iters=3, spherical=True)
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "ivf_inc")
    write_ivf_store(half_a, cents, inc)
    files_before = set(_g.glob(f"{inc}/cell=*/*.parquet"))
    ivf_store_append(half_b, cents, inc)
    assert files_before <= set(_g.glob(f"{inc}/cell=*/*.parquet"))

    full = str(tmp_path / "ivf_full")
    write_ivf_store(emb, cents, full)
    queries = emb.limit(3)
    got = ivf_store_topk(spark, inc, queries, cents, k=5, n_probe=2)
    want = ivf_store_topk(spark, full, queries, cents, k=5, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_screen_against_drops_exact_and_near_dups(spark):
    """Incremental-ingest screen: batch docs exactly or nearly duplicating
    the accepted corpus are dropped; fresh docs survive; the accepted
    corpus is untouched."""
    from ballista_spark.operators.dedup import screen_against

    base = " ".join(f"w{i}" for i in range(40))
    # one replaced token of 40: 35/41 shingle jaccard ~ 0.85 >= 0.8
    near = base.replace("w27 ", "q27 ")
    seen = spark.createDataFrame(
        [(100, base), (101, "an old accepted document about rivers and rain")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base),                     # exact member of seen -> dropped
            (2, near),                     # near-dup of seen -> dropped
            (3, " ".join(f"z{i}" for i in range(40))),  # fresh -> kept
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in screen_against(batch, seen).collect())
    assert kept == [3]
    # fuzzy screen off: only the exact member is dropped
    kept2 = sorted(
        r["doc_id"]
        for r in screen_against(batch, seen, near_dup_threshold=None).collect()
    )
    assert kept2 == [2, 3]
