"""HyperANF neighborhood-function tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.linkgraph import ANF_ROUNDS, hyperanf


def _anf(spark, edges, node_ids, rounds=ANF_ROUNDS):
    e = spark.createDataFrame(edges, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in node_ids], ["node"])
    rows = hyperanf(e, nodes, len(node_ids), rounds=rounds).orderBy("t").collect()
    return [r["nf_est"] for r in rows]


def test_hyperanf_round0_is_node_count(spark):
    """Single-element sketches linear-count to exactly 1 each."""
    nf = _anf(spark, [(0, 1)], [0, 1, 2])
    assert nf[0] == 3


def test_hyperanf_chain_growth_until_plateau(spark):
    """Directed chain 0→1→2→3: balls grow by one hop per round then
    saturate. NF is monotone nondecreasing; sketched values at tiny n
    equal the exact counts via linear counting."""
    nf = _anf(spark, [(0, 1), (1, 2), (2, 3)], [0, 1, 2, 3], rounds=4)
    # exact NF: t0 = 4; t1 = 4+3 = 7; t2 = 7+2 = 9; t3 = 10; t4 = 10
    assert nf == [4, 7, 9, 10, 10]


def test_hyperanf_complete_bipartite_saturates_in_one_round(spark):
    edges = [(a, b) for a in (0, 1) for b in (2, 3)] + [
        (b, a) for a in (0, 1) for b in (2, 3)
    ]
    nf = _anf(spark, edges, [0, 1, 2, 3], rounds=2)
    # t1: each node reaches itself + the 2 on the other side = 12
    assert nf[1] == 12
    # t2: everyone reaches everyone = 16, and it stays there
    assert nf[2] == 16


def test_hyperanf_pairs_reached_pm(spark):
    e = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    nodes = spark.createDataFrame([(0,), (1,)], ["node"])
    rows = {
        r["t"]: r for r in hyperanf(e, nodes, 2, rounds=1).collect()
    }
    # t1: both nodes reach both -> 4 of 4 ordered pairs = 1000pm
    assert rows[1]["pairs_reached_pm"] == 1000
    assert rows[0]["pairs_reached_pm"] == 500


def test_hyperanf_matches_twin_on_random_graph(spark):
    """NF(t) on a seeded random digraph (hubs, dangling and isolated
    nodes, 2-cycles, duplicate edges) equals the sum over nodes of the
    portable-HLL estimate of each exact BFS out-ball."""
    from tests.test_harmonic import _py_hll_est
    from tests.test_linkgraph import _random_graph

    edges, n = _random_graph(11)
    succ = {v: set() for v in range(n)}
    for u, v in edges:
        succ[u].add(v)
    balls = [{v} for v in range(n)]
    want = [sum(_py_hll_est(b) for b in balls)]
    for _ in range(ANF_ROUNDS):
        balls = [b | {w for u in b for w in succ[u]} for b in balls]
        want.append(sum(_py_hll_est(b) for b in balls))
    assert _anf(spark, edges, list(range(n))) == want
