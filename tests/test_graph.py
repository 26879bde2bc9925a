"""KG graph analytics (operators/graph.py): degree stats and PageRank over
the bipartite mention graph — numpy-reference parity plus invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from palladian_spark.operators.graph import (
    DAMPING,
    TELEPORT,
    degree_stats,
    mention_edges,
    pagerank,
)

TERMS = ["spark", "join", "table"]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "spark join spark table"),
        (2, "join table"),
        (3, "spark spark spark"),
        (4, "nothing relevant here"),
        (5, None),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_mention_edges(spark, docs):
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in mention_edges(docs, TERMS).collect()
    }
    assert got == {
        ("d:1", "t:spark"): 2,
        ("d:1", "t:join"): 1,
        ("d:1", "t:table"): 1,
        ("d:2", "t:join"): 1,
        ("d:2", "t:table"): 1,
        ("d:3", "t:spark"): 3,
    }


def test_degree_stats(spark, docs):
    got = {
        r["node"]: (r["degree"], r["strength"])
        for r in degree_stats(mention_edges(docs, TERMS)).collect()
    }
    # doc 4/5 contribute no nodes; symmetric degree counts both directions
    assert got["d:1"] == (3, 4)
    assert got["t:spark"] == (2, 5)
    assert got["t:join"] == (2, 2)
    assert got["d:3"] == (1, 3)


def _numpy_pagerank(edges, iterations):
    """Dense reference implementation of the exact recurrence."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for s, d, wt in edges:
        w[idx[s], idx[d]] += wt
        w[idx[d], idx[s]] += wt
    out = w.sum(axis=1, keepdims=True)
    p = w / out
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = TELEPORT / n + DAMPING * (p.T @ r)
    return {node: r[idx[node]] for node in nodes}


def test_pagerank_numpy_parity(spark, docs):
    edges = mention_edges(docs, TERMS)
    raw = [(r["src"], r["dst"], r["weight"]) for r in edges.collect()]
    expected = _numpy_pagerank(raw, iterations=5)
    got = {r["node"]: r["rank_ppb"] for r in pagerank(edges, iterations=5).collect()}
    assert set(got) == set(expected)
    for node, rank in expected.items():
        assert got[node] == round(rank * 1e9), node


def test_pagerank_mass_conserved(spark, docs):
    ranks = pagerank(mention_edges(docs, TERMS), iterations=5)
    total = ranks.agg(F.sum("rank_ppb")).first()[0]
    # symmetric graph has no dangling mass: sum(rank) == 1 up to ppb rounding
    assert abs(total - 1_000_000_000) <= ranks.count()


def test_pagerank_checkpoint_path(spark, docs):
    """A run long enough to cross the localCheckpoint boundary equals the
    same recurrence without it."""
    edges = mention_edges(docs, TERMS)
    raw = [(r["src"], r["dst"], r["weight"]) for r in edges.collect()]
    expected = _numpy_pagerank(raw, iterations=9)
    got = {
        r["node"]: r["rank_ppb"]
        for r in pagerank(edges, iterations=9).collect()
    }
    for node, rank in expected.items():
        assert got[node] == round(rank * 1e9), node


def test_pagerank_empty_graph(spark):
    empty = spark.createDataFrame([], "doc_id: long, text: string")
    assert pagerank(mention_edges(empty, TERMS)).count() == 0


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one weak bridge must settle into two
    communities (each clique adopts its lexicographically smallest
    member), and the result must be deterministic across reruns."""
    from palladian_spark.operators.graph import label_propagation

    edges = []
    for grp, names in (("a", ["a1", "a2", "a3", "a4"]),
                       ("b", ["b1", "b2", "b3", "b4"])):
        for i, u in enumerate(names):
            for v in names[i + 1:]:
                edges.append((u, v, 5))
    edges.append(("a1", "b1", 1))  # weak bridge
    df = spark.createDataFrame(edges, "src string, dst string, weight long")
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    assert {got[n] for n in ["a1", "a2", "a3", "a4"]} == {"a1"}
    assert {got[n] for n in ["b1", "b2", "b3", "b4"]} == {"b1"}
    again = {r["node"]: r["label"] for r in label_propagation(df, iterations=4).collect()}
    assert got == again


def test_label_propagation_weighted_votes_and_ties(spark):
    """Votes are weight sums, not neighbor counts: a single heavy edge
    outvotes two light ones; exact vote ties break to the smaller label."""
    from palladian_spark.operators.graph import label_propagation

    # x's neighbors after round 1 hold labels: h (weight 10), l1/l2
    # (weight 3 each) -> h wins 10 vs 6
    df = spark.createDataFrame(
        [("x", "h", 10), ("x", "l1", 3), ("x", "l2", 3)],
        "src string, dst string, weight long",
    )
    got = {r["node"]: r["label"] for r in label_propagation(df, iterations=1).collect()}
    assert got["x"] == "h"
    # exact tie: equal weights -> lexicographically smallest label wins
    df2 = spark.createDataFrame(
        [("x", "m", 3), ("x", "k", 3)], "src string, dst string, weight long"
    )
    got2 = {r["node"]: r["label"] for r in label_propagation(df2, iterations=1).collect()}
    assert got2["x"] == "k"


def test_link_training_pairs_properties(spark):
    """Negative-sampling invariants: positives = the distinct edge set
    with label 1; negatives never collide with a true edge or the
    original tail; the sample is deterministic and bounded by
    k_negatives per positive."""
    from palladian_spark.operators.graph import link_training_pairs

    edges = spark.createDataFrame(
        [("d:1", "t:a", 2), ("d:1", "t:b", 1), ("d:2", "t:a", 1),
         ("d:3", "t:c", 1), ("d:4", "t:d", 1)],
        "src string, dst string, weight long",
    )
    rows = link_training_pairs(edges, k_negatives=3).collect()
    pos = {(r["src"], r["dst"]) for r in rows if r["label"] == 1}
    neg = {(r["src"], r["dst"]) for r in rows if r["label"] == 0}
    true_edges = {("d:1", "t:a"), ("d:1", "t:b"), ("d:2", "t:a"),
                  ("d:3", "t:c"), ("d:4", "t:d")}
    assert pos == true_edges
    assert neg and not (neg & true_edges)
    # every negative tail is a REAL tail node from the graph
    tails = {d for _, d in true_edges}
    assert all(d in tails for _, d in neg)
    # bounded: at most k per positive
    per_src: dict = {}
    for s, _ in neg:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(v <= 3 * sum(1 for p, _ in true_edges if p == s)
               for s, v in per_src.items())
    again = link_training_pairs(edges, k_negatives=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    # degenerate: single tail -> positives only, no crash
    one = spark.createDataFrame([("d:1", "t:a", 1)], "src string, dst string, weight long")
    only = link_training_pairs(one, k_negatives=3).collect()
    assert [(r["src"], r["dst"], r["label"]) for r in only] == [("d:1", "t:a", 1)]
