"""Connected components / dedup clustering (graph.py).

Ground truth for every structural case is an in-driver union-find over the
same edge list — an independent O(n α(n)) oracle with none of the
large-star/small-star machinery.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datachecker_spark import cache
from datachecker_spark.graph import (
    connected_components,
    dedup_clusters,
    keep_canonical,
)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component min; path-compress to roots first
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df)
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    cache.release(out)
    return got


def test_cc_chain(spark):
    # path graph 0-1-2-...-9: one component labelled 0; needs >1 round
    edges = [(i, i + 1) for i in range(9)]
    assert _cc(spark, edges) == {i: 0 for i in range(10)}


def test_cc_cliques_and_star(spark):
    edges = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique 0..4
        + [(100, x) for x in (101, 102, 103)]  # star rooted above its leaves
        + [(201, 200)]  # reversed single edge
    )
    got = _cc(spark, edges)
    assert got == {
        **{i: 0 for i in range(5)},
        **{x: 100 for x in (100, 101, 102, 103)},
        200: 200,
        201: 200,
    }


def test_cc_merging_bridge(spark):
    # two cliques joined by one bridge edge collapse to one component
    left = [(a, b) for a in range(3) for b in range(a + 1, 3)]
    right = [(a, b) for a in range(10, 13) for b in range(a + 1, 13)]
    got = _cc(spark, left + right + [(2, 12)])
    assert set(got.values()) == {0}
    assert set(got) == {0, 1, 2, 10, 11, 12}


def test_cc_self_loops_and_duplicates_ignored(spark):
    got = _cc(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert got == {1: 1, 2: 1}  # the pure self-loop node disappears


def test_cc_random_vs_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(400))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges) == _union_find(edges)


def test_cc_long_chain_converges_in_log_rounds(spark):
    # 64-node path: min-label propagation would need 63 rounds; the
    # star algorithm's O(log^2 n) bound must land well under max_iterations
    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df, max_iterations=12)
    assert {r["cluster_id"] for r in out.collect()} == {0}
    cache.release(out)


def test_cc_string_ids(spark):
    # the advertised input: pair lists keyed by the engine's STRING doc_ids
    edges = [("doc_b", "doc_c"), ("doc_a", "doc_b"), ("doc_x", "doc_y")]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df)
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    assert got == {
        "doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
        "doc_x": "doc_x", "doc_y": "doc_x",
    }
    cache.release(out)


def test_dedup_clusters_sizes(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = dedup_clusters(df)
    rows = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}
    assert rows == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        10: (10, 2), 11: (10, 2),
    }
    # keep-policy: exactly one canonical doc per cluster
    keep = [d for d, (c, _) in rows.items() if d == c]
    assert sorted(keep) == [1, 10]
    cache.release(out)


def test_keep_canonical_end_to_end(spark):
    """Full dedup pipeline composition: near-dup pairs -> transitive
    clusters -> keep one canonical doc per cluster, singletons untouched."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    clusters = dedup_clusters(pairs)
    kept = sorted(r["doc_id"] for r in keep_canonical(docs, clusters).collect())
    # 2,3 fold into 1; 6 folds into 5; 0,4,7 are singletons
    assert kept == [0, 1, 4, 5, 7]
    cache.release(clusters)


def test_cc_releases_intermediate_blocks(spark):
    """Iteration must not leak checkpoint blocks: after release(result) the
    persistent-RDD count returns to the pre-call baseline."""
    cache.release_all(spark)
    sc = spark.sparkContext
    baseline = sc._jsc.getPersistentRDDs().size()
    edges = [(i, i + 1) for i in range(30)]
    out = connected_components(spark.createDataFrame(edges, ["id_a", "id_b"]))
    out.collect()
    cache.release(out)
    assert sc._jsc.getPersistentRDDs().size() <= baseline


def test_cc_non_convergence_releases_blocks(spark):
    """A loop that runs out of rounds raises and leaves no block behind:
    a 64-node path needs several rounds, so max_iterations=1 fails."""
    cache.release_all(spark)
    sc = spark.sparkContext
    baseline = sc._jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame([(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges, max_iterations=1)
    assert sc._jsc.getPersistentRDDs().size() == baseline


def test_dedup_e2e_real_pairs(spark):
    """VERDICT r4 #1: the composed pipeline on REAL similarity pairs — no
    planted edges. Build a corpus with two overlapping near-dup groups and
    distinct singletons, run ngram_jaccard_pairs -> dedup_clusters ->
    keep_canonical, and check the survivors against a driver-side exact
    Jaccard + union-find oracle."""
    from datachecker_spark.textops import ngram_jaccard_pairs

    base_a = "the quick brown fox jumps over the lazy dog near the river bank"
    base_b = "colorless green ideas sleep furiously under a pale winter moon tonight"
    texts = {
        1: base_a,
        2: base_a + " today",            # near-dup of 1
        3: base_a + " today always",     # near-dup of 2 (chains to 1)
        10: base_b,
        11: base_b + " again",           # near-dup of 10
        20: "completely unrelated words describing orbital mechanics and fuel",
        21: "another standalone document about medieval trade routes and salt",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)

    # driver-side oracle: exact bigram Jaccard over the same texts
    def sh(t):
        w = t.lower().split()
        return {f"{a} {b}" for a, b in zip(w, w[1:])}

    ids = sorted(texts)
    expect_pairs = sorted(
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if len(sh(texts[a]) & sh(texts[b])) / len(sh(texts[a]) | sh(texts[b])) >= 0.5
    )
    got_pairs = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert got_pairs == expect_pairs
    assert expect_pairs, "corpus planted no similar docs — vacuous"

    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    kept = sorted(
        r["doc_id"] for r in keep_canonical(docs, clusters).collect()
    )
    labels = _union_find(expect_pairs)
    expect_kept = sorted(
        d for d in ids if d not in labels or labels[d] == d
    )
    assert kept == expect_kept
    cache.release(clusters)


def test_cc_property_random_10k_edges(spark):
    """VERDICT r4 #8: property coverage at 10^4-edge scale — a random
    multi-regime graph (preferential-attachment trees for low-diameter
    giants, ring chains for multi-round propagation, random noise edges)
    must agree exactly with the driver-side union-find oracle."""
    rng = random.Random(42)
    edges: list[tuple[int, int]] = []
    # two attachment trees (one giant, one medium)
    for i in range(1, 4000):
        edges.append((rng.randrange(i), i))
    for i in range(1, 800):
        edges.append((10000 + rng.randrange(i), 10000 + i))
    # chains: force several star rounds
    for base in (20000, 21000, 22000):
        edges.extend((base + j, base + j + 1) for j in range(50))
    # random noise (some cross-linking the regimes)
    for _ in range(5500):
        a, b = rng.randrange(25000), rng.randrange(25000)
        if a != b:
            edges.append((a, b))
    assert len(edges) >= 10_000
    assert _cc(spark, edges) == _union_find(edges)


def test_cc_giant_component_hot_key_absorbed(spark):
    """VERDICT r4 #8: a giant component spanning half the graph makes its
    min node a hot key (degree = component size in the star form). The
    min-aggregations must absorb it map-side: the readout plan carries a
    partial HashAggregate before the exchange (one row per map partition
    reaches the hot key's reduce task, not component_size rows), and the
    result is exact."""
    rng = random.Random(3)
    giant = [(rng.randrange(i), i) for i in range(1, 5000)]  # one component
    pairs = [(100000 + 2 * i, 100000 + 2 * i + 1) for i in range(2500)]
    edges = giant + pairs
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df, max_iterations=12)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # partial-then-final min agg around the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(node" in plan
    got = {r["node"]: r["cluster_id"] for r in out.collect()}
    cache.release(out)
    assert got == _union_find(edges)
    # half the nodes really are one component
    from collections import Counter

    sizes = Counter(got.values())
    assert sizes.most_common(1)[0][1] == 5000
