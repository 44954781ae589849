"""PageRank frontier-priority operator vs an independent pure-Python twin."""

from __future__ import annotations

import random

from crawler_spark.operators.linkgraph import (
    LINK_MAX_DEG,
    LINK_MULT,
    LINK_STEP,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_ITERATIONS,
    PR_SCALE,
    pagerank,
    synth_link_graph,
)


def _py_pagerank(edges, n, iterations):
    """Row-at-a-time twin of the exact integer power iteration."""
    out_deg: dict[int, int] = {}
    for u, _ in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    init = PR_SCALE // n
    base = (init * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    rank = {v: init for v in range(n)}
    for _ in range(iterations):
        sums = {v: 0 for v in range(n)}
        for u, v in edges:
            sums[v] += rank[u] // out_deg[u]
        rank = {v: base + (PR_DAMP_NUM * s) // PR_DAMP_DEN for v, s in sums.items()}
    return rank, out_deg


def _py_graph(n):
    edges = set()
    for u in range(n):
        for k in range(1, u % LINK_MAX_DEG + 2):
            v = (u * LINK_MULT + LINK_STEP * k) % n
            if v != u:
                edges.add((u, v))
    return sorted(edges)


def _random_graph(seed):
    """(edges, n): a seeded random digraph on nodes 0..n-1 with the
    shapes a rank loop must get right — isolated nodes, dangling nodes
    (in-links, no out-links), high in-degree hubs, 2-cycles and
    duplicate edges. No self-loops."""
    rng = random.Random(seed)
    n = rng.randint(20, 40)
    isolated = set(rng.sample(range(n), 2))
    live = [v for v in range(n) if v not in isolated]
    hubs = rng.sample(live, 2)
    dangling = set(rng.sample([v for v in live if v not in hubs], 3))
    senders = [v for v in live if v not in dangling]
    edges = []
    for u in senders:
        for _ in range(rng.randint(1, 4)):
            v = rng.choice(hubs) if rng.random() < 0.4 else rng.choice(live)
            if v != u:
                edges.append((u, v))
    edges += [(u, d) for u, d in zip(rng.sample(senders, 3), sorted(dangling))]
    fwd = [(u, v) for u, v in edges if v not in dangling]
    edges += [(v, u) for u, v in rng.sample(fwd, 2)]  # 2-cycles
    edges += rng.sample(edges, 3)  # duplicates
    return edges, n


def test_pagerank_matches_python_twin(spark):
    n = 40
    docs = spark.range(n).selectExpr("id AS doc_id")
    edges = synth_link_graph(docs, n)
    got = {
        r["doc_id"]: (r["out_deg"], r["in_deg"], r["rank_ppb"])
        for r in pagerank(
            edges, docs.selectExpr("doc_id AS node"), n, PR_ITERATIONS
        ).collect()
    }
    py_edges = _py_graph(n)
    assert sorted((r["src"], r["dst"]) for r in edges.collect()) == py_edges
    rank, out_deg = _py_pagerank(py_edges, n, PR_ITERATIONS)
    in_deg: dict[int, int] = {}
    for _, v in py_edges:
        in_deg[v] = in_deg.get(v, 0) + 1
    assert set(got) == set(range(n))
    for v in range(n):
        assert got[v] == (out_deg.get(v, 0), in_deg.get(v, 0), rank[v])

    for seed in range(5):
        py_edges, n = _random_graph(seed)
        edges = spark.createDataFrame(py_edges, "src long, dst long")
        nodes = spark.range(n).selectExpr("id AS node")
        got = {
            r["doc_id"]: (r["out_deg"], r["in_deg"], r["rank_ppb"])
            for r in pagerank(edges, nodes, n, PR_ITERATIONS).collect()
        }
        rank, out_deg = _py_pagerank(py_edges, n, PR_ITERATIONS)
        in_deg = {}
        for _, v in py_edges:
            in_deg[v] = in_deg.get(v, 0) + 1
        assert got == {
            v: (out_deg.get(v, 0), in_deg.get(v, 0), rank[v]) for v in range(n)
        }, seed


def test_pagerank_properties(spark):
    # hand graph: hub 0 -> {1,2,3}; chain 1->2->3; 4 isolated
    rows = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    nodes = spark.range(5).selectExpr("id AS node")
    res = {r["doc_id"]: r for r in pagerank(edges, nodes, 5, 3).collect()}
    init = PR_SCALE // 5
    base = (init * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    # no in-links (0 and the isolate) -> exactly base after any iteration
    assert res[0]["rank_ppb"] == base
    assert res[4]["rank_ppb"] == base
    assert res[4]["out_deg"] == 0 and res[4]["in_deg"] == 0
    # 3 receives from both 0 and the chain -> strictly richest
    assert res[3]["rank_ppb"] == max(r["rank_ppb"] for r in res.values())
    # mass never exceeds the injected total (dangling mass is dropped)
    assert sum(r["rank_ppb"] for r in res.values()) <= PR_SCALE


# Every graph driver query's result schema on an empty slice.
_EMPTY_SCHEMAS = {
    "pagerank_over_documents": "doc_id bigint, out_deg bigint, in_deg bigint, rank_ppb bigint",
    "host_links_over_documents": "src_host string, dst_host string, n_links bigint, rk bigint",
    "hits_over_documents": "doc_id bigint, auth_ppb bigint, hub_ppb bigint",
    "trustrank_over_documents": "doc_id bigint, is_seed boolean, rank_ppb bigint",
    "opic_over_documents": (
        "doc_id bigint, out_deg bigint, cash_ppb bigint, history_ppb bigint,"
        " importance_ppb bigint"
    ),
    "degree_histogram_over_documents": (
        "direction string, log2_bucket int, n_nodes bigint, min_deg bigint, max_deg bigint"
    ),
    "spam_mass_over_documents": (
        "doc_id bigint, rank_ppb bigint, trust_ppb bigint, is_seed boolean,"
        " spam_mass_pm bigint, spam_flag boolean"
    ),
    "bowtie_over_documents": "region string, n_nodes bigint, min_node bigint",
    "triangles_over_documents": "doc_id bigint, deg bigint, n_tri bigint, clustering_pm bigint",
    "hyperanf_over_documents": "t int, nf_est bigint, pairs_reached_pm bigint",
    "salsa_over_documents": "doc_id bigint, salsa_auth_ppb bigint, salsa_hub_ppb bigint",
    "harmonic_over_documents": "doc_id bigint, hc_milli bigint",
    "communities_over_documents": "doc_id bigint, community bigint, csize bigint",
}


def test_pagerank_empty_corpus(spark):
    from crawler_spark.operators import linkgraph
    from crawler_spark.operators.communities import communities_over_documents

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    wrappers = {
        name: getattr(linkgraph, name)
        for name in dir(linkgraph)
        if name.endswith("_over_documents")
    }
    wrappers["communities_over_documents"] = communities_over_documents
    assert set(wrappers) == set(_EMPTY_SCHEMAS)
    for name, fn in wrappers.items():
        res = fn(docs)
        assert res.count() == 0, name
        got = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in res.schema.fields
        )
        assert got == _EMPTY_SCHEMAS[name], name


def test_pagerank_plan_shape(spark):
    n = 40
    docs = spark.range(n).selectExpr("id AS doc_id")
    res = pagerank(
        synth_link_graph(docs, n), docs.selectExpr("doc_id AS node"), n, 2
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # pure join + partial-agg iterations


def test_host_link_summary_topk_and_exclusions(spark):
    from crawler_spark.operators.linkgraph import host_link_summary

    edges = spark.createDataFrame(
        # h1 -> h2 twice, h1 -> h3 once, h1 intra-host once (dropped),
        # h2 -> h1 once
        [(0, 10), (1, 11), (2, 20), (3, 0), (0, 1), (10, 0)],
        "src long, dst long",
    )
    hosts = spark.createDataFrame(
        [(i, "h1") for i in (0, 1, 2, 3)]
        + [(i, "h2") for i in (10, 11)]
        + [(20, "h3")],
        "doc_id long, host string",
    )
    got = {
        (r["src_host"], r["dst_host"]): (r["n_links"], r["rk"])
        for r in host_link_summary(edges, hosts, k=1).collect()
    }
    # k=1: h1 keeps only its top target (h2, 2 links); h3 row cut
    assert got == {("h1", "h2"): (2, 1), ("h2", "h1"): (1, 1)}


def test_rank_resolution_guard_fires():
    """A graph with n near PR_SCALE would truncate every node's integer
    mass to ~0 — the loops must fail fast, not compute garbage."""
    import pytest as _pytest

    from crawler_spark.operators.linkgraph import (
        PR_SCALE,
        RANK_MIN_RESOLUTION,
        _check_rank_resolution,
    )

    _check_rank_resolution(PR_SCALE // RANK_MIN_RESOLUTION)  # boundary ok
    with _pytest.raises(ValueError, match="raise PR_SCALE"):
        _check_rank_resolution(PR_SCALE // RANK_MIN_RESOLUTION + 1)
