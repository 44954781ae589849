"""OPIC cash/history loop and degree histogram vs Python oracles."""

from __future__ import annotations

from collections import defaultdict

import pytest

from crawler_spark.operators.linkgraph import PR_SCALE, degree_histogram, opic
from tests.test_linkgraph import _random_graph


def _py_opic(edges, nodes, iters):
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    init = PR_SCALE // len(nodes)
    cash = {n: init for n in nodes}
    hist = {n: 0 for n in nodes}
    for _ in range(iters):
        recv = defaultdict(int)
        for s, d in edges:
            recv[d] += cash[s] // out_deg[s]
        hist = {n: hist[n] + cash[n] for n in nodes}
        cash = {n: recv.get(n, 0) for n in nodes}
    return {n: (cash[n], hist[n]) for n in nodes}


@pytest.mark.spark
def test_opic_matches_python_and_banks_history(spark):
    # hub 0 -> {1,2,3}; 3 -> 0 closes a cycle; 4 dangling (cash
    # evaporates); 5 isolated (keeps only its banked initial cash)
    edges = [(0, 1), (0, 2), (0, 3), (3, 0), (1, 4), (4, 4)]
    edges = [e for e in edges if e[0] != e[1]]  # no self-loops
    nodes = list(range(6))
    e = spark.createDataFrame(edges, ["src", "dst"])
    nd = spark.createDataFrame([(n,) for n in nodes], ["node"])
    got = {
        r["doc_id"]: (r["cash_ppb"], r["history_ppb"], r["importance_ppb"])
        for r in opic(e, nd, len(nodes), iterations=3).collect()
    }
    want = _py_opic(edges, nodes, 3)
    assert {k: (v[0], v[1]) for k, v in got.items()} == want
    assert all(c + h == i for (c, h, i) in got.values())
    # isolated node: history = its initial cash spent in round 1, no inflow
    assert got[5][0] == 0 and got[5][1] == PR_SCALE // 6

    for seed in range(5):
        edges, n = _random_graph(seed)
        e = spark.createDataFrame(edges, "src long, dst long")
        nd = spark.range(n).selectExpr("id AS node")
        got = {
            r["doc_id"]: (r["cash_ppb"], r["history_ppb"], r["importance_ppb"])
            for r in opic(e, nd, n, iterations=3).collect()
        }
        want = _py_opic(edges, list(range(n)), 3)
        assert got == {v: (c, h, c + h) for v, (c, h) in want.items()}, seed


@pytest.mark.spark
def test_degree_histogram_log2_buckets(spark):
    # out-degrees: a->3 (bucket 1: bin(3)='11'), b->1 (bucket 0)
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (9, 1)], ["src", "dst"]
    )
    rows = {
        (r["direction"], r["log2_bucket"]): r
        for r in degree_histogram(e).collect()
    }
    assert rows[("out", 1)]["n_nodes"] == 1  # node 0, deg 3
    assert rows[("out", 1)]["min_deg"] == 3
    assert rows[("out", 0)]["n_nodes"] == 1  # node 9, deg 1
    # in-degrees: node 1 has 2 (bucket 1), nodes 2 and 3 have 1 (bucket 0)
    assert rows[("in", 1)]["n_nodes"] == 1 and rows[("in", 1)]["max_deg"] == 2
    assert rows[("in", 0)]["n_nodes"] == 2
