"""Behavioral tests for the dedup/similarity operators on *planted*
duplicates and clustered vectors (the driver fixtures are uniform-random,
which exercises plumbing but not detection power)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from projetos_etl_spark.operators.cosine import brute_force_topk, srp_lsh_topk
from projetos_etl_spark.operators.minhash import (
    exact_ngram_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from projetos_etl_spark.operators.simhash import hamming_distance, simhash_signatures

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen sleepy "
    "badgers carry heavy copper kettles across the narrow wooden bridge "
    "under a pale winter moon and nobody notices the quiet parade at all"
)
NEAR_DUP = BASE.replace("copper", "silver").replace("winter", "summer")
UNRELATED = (
    "completely different content about distributed query engines shuffling "
    "columnar batches through adaptive execution plans with broadcast hash "
    "joins and partition pruning at petabyte scale every single night"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, BASE, "s0"), (2, NEAR_DUP, "s0"), (3, UNRELATED, "s0")],
        "doc_id long, text string, source string",
    )


def test_minhash_lsh_finds_planted_near_dup(docs):
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.4
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_hot_bucket_guard(spark):
    """VERDICT r2 item 2: a boilerplate-heavy corpus (300 identical docs
    -> ONE bucket per band) must produce O(max_bucket^2) candidate
    pairs, not O(n^2), with the deterministic lowest-id members kept."""
    from projetos_etl_spark.operators.minhash import DEFAULT_MAX_BUCKET

    n = 300
    docs = spark.createDataFrame(
        [(i, BASE) for i in range(n)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    m = DEFAULT_MAX_BUCKET
    capped = lsh_candidate_pairs(sigs, "doc_id")
    assert capped.count() == m * (m - 1) // 2  # 2016, not 44850
    top = capped.agg(
        F.max("doc_b").alias("mx"), F.min("est_jaccard").alias("mn")
    ).collect()[0]
    assert top.mx == m - 1  # lowest-id members survive, deterministically
    assert top.mn == 1.0  # identical docs -> full signature match
    # opting out restores all-pairs-within-bucket semantics
    uncapped = lsh_candidate_pairs(sigs, "doc_id", max_bucket=None)
    assert uncapped.count() == n * (n - 1) // 2


def test_exact_ngram_jaccard(docs):
    rows = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in exact_ngram_jaccard_pairs(docs, "doc_id", "text", "source").collect()
    }
    assert (1, 2) in rows and rows[(1, 2)] > 0.5
    assert (1, 3) not in rows


def test_simhash_hamming_orders_similarity(docs, spark):
    sigs = simhash_signatures(docs, "doc_id", "text").collect()
    by_id = {r.doc_id: r.simhash for r in sigs}
    pairs = spark.createDataFrame(
        [(by_id[1], by_id[2]), (by_id[1], by_id[3])], "a string, b string"
    )
    d_dup, d_far = [r.hamming for r in pairs.select(hamming_distance("a", "b")).collect()]
    assert d_dup < d_far
    assert d_dup <= 4


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(5, 64)) * 4
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(20):
            v = c + rng.normal(size=64) * 0.3
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_srp_lsh_recall_on_clustered_data(clustered_vectors):
    queries = clustered_vectors.filter(F.col("vec_id") % 20 == 0)  # one per cluster
    exact = brute_force_topk(queries, clustered_vectors, k=5)
    approx = srp_lsh_topk(queries, clustered_vectors, k=5, n_bits=4, n_tables=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"recall {recall}"


def test_ivf_recall_on_clustered_data(clustered_vectors):
    from projetos_etl_spark.operators.cosine import ivf_topk

    queries = clustered_vectors.filter(F.col("vec_id") % 20 == 0)  # one per cluster
    exact = brute_force_topk(queries, clustered_vectors, k=5)
    # 8 cells over 5 true clusters, probing 3: near-neighbors share the
    # query's cell (or an adjacent probed one) on clustered data.
    approx = ivf_topk(queries, clustered_vectors, k=5, n_cells=8, n_probe=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"recall {recall}"


def test_pq_adc_recall_on_clustered_data(clustered_vectors):
    """PQ-ADC (8 subspaces x 16 codes over 64-d) must rank by summed
    LUT lookups well enough to recover most true neighbors on clustered
    vectors — the quantization-error analogue of the LSH recall test."""
    from projetos_etl_spark.operators.cosine import pq_adc_topk

    queries = clustered_vectors.filter(F.col("vec_id") % 20 == 0)  # one per cluster
    exact = brute_force_topk(queries, clustered_vectors, k=5)
    approx = pq_adc_topk(queries, clustered_vectors, k=5)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"recall {recall}"


def test_ivf_pq_recall_on_clustered_data(clustered_vectors):
    """Composed IVF+PQ-ADC: the coarse prune (8 cells, probe 3) and the
    compressed ADC scan together must still recover most true neighbors
    on clustered vectors — the end-state 100 TB ANN path has BOTH error
    sources at once, so it gets its own recall gate."""
    from projetos_etl_spark.operators.cosine import ivf_pq_topk

    queries = clustered_vectors.filter(F.col("vec_id") % 20 == 0)  # one per cluster
    exact = brute_force_topk(queries, clustered_vectors, k=5)
    approx = ivf_pq_topk(queries, clustered_vectors, k=5, n_cells=8, n_probe=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"recall {recall}"


def test_brute_force_topk_is_exact(clustered_vectors):
    """Cross-check the Spark operator against numpy on the same vectors."""
    pdf = clustered_vectors.toPandas().sort_values("vec_id")
    M = np.stack(pdf["embedding"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    np.fill_diagonal(S, -2)
    top1_np = S[0].argmax()
    got = (
        brute_force_topk(
            clustered_vectors.filter(F.col("vec_id") == 0), clustered_vectors, k=1
        )
        .collect()[0]
        .neighbor_id
    )
    assert got == top1_np


def test_connected_components_chain(spark):
    """A 5-vertex chain (0-1-2-3-4) plus an isolated vertex: min-label
    propagation needs multiple rounds to carry 0 to the chain's far end,
    so this exercises the loop + convergence check, not just one hop."""
    from projetos_etl_spark.operators.components import connected_components

    verts = spark.createDataFrame([(i,) for i in range(6)], ["id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], ["src", "dst"]
    )
    got = {
        r.id: r.component for r in connected_components(verts, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}


def test_connected_components_two_clusters(spark):
    from projetos_etl_spark.operators.components import connected_components

    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11]], ["id"])
    # asymmetric input edges on purpose: operator must symmetrize
    edges = spark.createDataFrame([(3, 1), (2, 3), (11, 10)], ["src", "dst"])
    got = {
        r.id: r.component for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_star_converges_logarithmically_on_long_chain(spark):
    """VERDICT r1 item 8: large-star/small-star must converge in O(log n)
    rounds on a chain graph — the adversarial case where per-hop label
    propagation needs n-1 rounds. 64-node chain: label prop would need
    63 rounds; star must finish well within 2*log2(64)=12."""
    from projetos_etl_spark.operators.components import (
        ConvergenceError,
        connected_components,
    )

    n = 64
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    stats: dict = {}
    got = {
        r.id: r.component
        for r in connected_components(verts, edges, max_rounds=20, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # alternating star is O(log^2 n) worst-case, ~2-3x log2(n) observed;
    # the point is it is nowhere near the chain's diameter (63 rounds).
    assert stats["rounds"] <= 18

    # And the label-prop variant must now REFUSE to return unconverged
    # labels (previously it returned silently-wrong output).
    import pytest

    with pytest.raises(ConvergenceError):
        connected_components(verts, edges, max_rounds=18, algorithm="label")


def test_star_and_label_agree(spark):
    from projetos_etl_spark.operators.components import connected_components

    verts = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    edges = spark.createDataFrame(
        [(0, 3), (3, 7), (1, 2), (5, 6), (6, 8), (8, 5)], ["src", "dst"]
    )
    star = {r.id: r.component for r in connected_components(verts, edges).collect()}
    label = {
        r.id: r.component
        for r in connected_components(verts, edges, algorithm="label").collect()
    }
    assert star == label == {0: 0, 3: 0, 7: 0, 1: 1, 2: 1, 5: 5, 6: 5, 8: 5, 4: 4, 9: 9}


def test_pagerank_matches_numpy_power_iteration(spark):
    """Spark PageRank vs a dense numpy power iteration with identical
    damped/dangling formulation on a small directed graph (chain + hub +
    dangling sink)."""
    import numpy as np
    from projetos_etl_spark.operators.pagerank import pagerank

    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (3, 4)]  # 4 -> dangling
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, iters=25).collect()}

    n, d = 5, 0.85
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = np.ones(n)
    for _ in range(25):
        new = np.full(n, 1 - d)
        dangling = sum(rank[v] for v in range(n) if v not in out)
        for s, ts in out.items():
            for t in ts:
                new[t] += d * rank[s] / len(ts)
        new += d * dangling / n
        rank = new
    for v in range(n):
        assert abs(got[v] - rank[v]) < 1e-6, (v, got[v], rank[v])
    assert abs(sum(got.values()) - n) < 1e-6  # rank mass conserved at N
