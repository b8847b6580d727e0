"""Connected-components clustering + canonical selection (dedup.py)."""

import numpy as np
import pytest

from olympian_spark.operators.dedup import connected_components


def _union_find(n_edges, nodes):
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in nodes}


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


def test_components_two_clusters_and_chain(spark):
    edges = [(1, 2), (2, 3), (10, 11), (3, 4)]
    got = _labels(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_long_chain_converges_fast(spark):
    """A 64-node chain is the adversarial case for naive label
    propagation (diameter 63); large/small-star must still converge
    within the O(log n) iteration budget."""
    edges = [(i, i + 1) for i in range(64)]
    got = _labels(spark, edges)
    assert set(got.values()) == {0} and len(got) == 65


def test_components_match_union_find_on_random_graphs(spark):
    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 60
        m = int(rng.integers(10, 80))
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, (m, 2))
            if a != b
        ]
        if not edges:
            continue
        nodes = sorted({x for e in edges for x in e})
        expect = _union_find(edges, nodes)
        assert _labels(spark, edges) == expect


def test_components_empty_and_self_pairs(spark):
    df = spark.createDataFrame([(5, 5)], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0


def test_components_cluster_jaccard_pairs_end_to_end(spark):
    """Chained near-dups A~B~C (A and C not a pair themselves) must land
    in ONE cluster — the property pairs alone cannot express."""
    from olympian_spark.operators.dedup import ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base + " extra"),
            (2, base + " extra tokens"),
            (3, "completely different content about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None)
    got = {(r.doc_a, r.doc_b) for r in pairs.select("doc_a", "doc_b").collect()}
    assert (0, 1) in got and (1, 2) in got
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    # one cluster labeled by its smallest id; doc 3 pairs with nothing
    assert comp[0] == comp[1] == comp[2] == 0 and 3 not in comp
