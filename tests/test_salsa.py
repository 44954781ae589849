"""SALSA closed-form scores vs an independent pure-Python twin.

The Spark side (operators/linkgraph.salsa) composes large/small-star
connected components with degree aggregates; this twin recomputes the
Lempel & Moran Prop. 2 closed form with a plain union-find — a fully
independent path to the same integers.
"""

from __future__ import annotations

from crawler_spark.operators.linkgraph import (
    SALSA_SCALE,
    salsa,
    salsa_over_documents,
    synth_link_graph,
)


def _py_salsa(edges, n):
    """(auth, hub) ppb dicts via union-find over the bipartite graph."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    indeg: dict[int, int] = {}
    outdeg: dict[int, int] = {}
    for u, v in edges:
        union(2 * u, 2 * v + 1)
        outdeg[u] = outdeg.get(u, 0) + 1
        indeg[v] = indeg.get(v, 0) + 1

    def side(deg, parity):
        comp = {v: find(2 * v + parity) for v in deg}
        n_side = len(deg)
        n_c: dict[int, int] = {}
        dsum: dict[int, int] = {}
        for v, c in comp.items():
            n_c[c] = n_c.get(c, 0) + 1
            dsum[c] = dsum.get(c, 0) + deg[v]
        return {
            v: (n_c[c] * SALSA_SCALE // max(n_side, 1))
            * (deg[v] * SALSA_SCALE // dsum[c])
            // SALSA_SCALE
            for v, c in comp.items()
        }

    auth = side(indeg, 1)
    hub = side(outdeg, 0)
    return (
        {v: auth.get(v, 0) for v in range(n)},
        {v: hub.get(v, 0) for v in range(n)},
    )


def test_salsa_matches_python_twin(spark):
    n = 60
    docs = spark.range(n).selectExpr("id AS doc_id")
    edges = synth_link_graph(docs, n)
    py_edges = sorted((r["src"], r["dst"]) for r in edges.collect())
    auth, hub = _py_salsa(py_edges, n)
    got = {
        r["doc_id"]: (r["salsa_auth_ppb"], r["salsa_hub_ppb"])
        for r in salsa(edges, docs.selectExpr("doc_id AS node")).collect()
    }
    assert set(got) == set(range(n))
    for v in range(n):
        assert got[v] == (auth[v], hub[v]), v


def test_salsa_two_components_closed_form(spark):
    # two disjoint components: C1 = {0→1, 2→1} (authority 1 gets the
    # whole component), C2 = {3→4, 3→5}. Authority side: |A| = 3
    # (nodes 1, 4, 5); C1 holds 1 of them, C2 holds 2.
    rows = [(0, 1), (2, 1), (3, 4), (3, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    nodes = spark.range(6).selectExpr("id AS node")
    res = {r["doc_id"]: r for r in salsa(edges, nodes).collect()}
    s = SALSA_SCALE
    # auth(1): comp share 1/3, degree share 2/2 → ~s/3
    assert res[1]["salsa_auth_ppb"] == (1 * s // 3) * (2 * s // 2) // s
    # auth(4) = auth(5): comp share 2/3, degree share 1/2 → ~s/3
    assert res[4]["salsa_auth_ppb"] == (2 * s // 3) * (1 * s // 2) // s
    assert res[4]["salsa_auth_ppb"] == res[5]["salsa_auth_ppb"]
    # hub side: |H| = 3 (0, 2, 3). C1 holds hubs {0, 2}, C2 holds {3}.
    # TKC resistance: hub 3 carries BOTH edges of its component yet
    # gets only its component's 1/3 share — out-degree cannot buy mass
    # beyond the component, unlike HITS
    assert res[3]["salsa_hub_ppb"] == (1 * s // 3) * (2 * s // 2) // s
    assert res[0]["salsa_hub_ppb"] == (2 * s // 3) * (1 * s // 2) // s
    assert res[0]["salsa_hub_ppb"] == res[2]["salsa_hub_ppb"]
    # nodes outside a chain score 0 on that side
    assert res[1]["salsa_hub_ppb"] == 0
    assert res[0]["salsa_auth_ppb"] == 0
    # L1 mass: each side sums to SCALE up to the documented div
    # quantization (≤ 1 per division, 3 divisions per score)
    tot_a = sum(r["salsa_auth_ppb"] for r in res.values())
    tot_h = sum(r["salsa_hub_ppb"] for r in res.values())
    assert s - 20 <= tot_a <= s
    assert s - 20 <= tot_h <= s


def test_salsa_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert salsa_over_documents(docs).count() == 0


def test_salsa_matches_twin_on_random_graphs(spark):
    """Seeded random digraphs with several disjoint components — the
    regime where the closed form's component shares matter most."""
    import random

    rng = random.Random(4242)
    edges = []
    n = 90
    for g in range(6):  # 6 islands of 15 ids each
        base = g * 15
        ids = [base + i for i in range(15)]
        for a in ids:
            for b in ids:
                if a != b and rng.random() < 0.18:
                    edges.append((a, b))
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.range(n).selectExpr("id AS node")
    auth, hub = _py_salsa(sorted(set(edges)), n)
    got = {
        r["doc_id"]: (r["salsa_auth_ppb"], r["salsa_hub_ppb"])
        for r in salsa(e, nodes).collect()
    }
    for v in range(n):
        assert got[v] == (auth[v], hub[v]), v


def test_salsa_is_invariant_under_negative_id_shift(spark):
    """Shifting every id by -k (half the ids become negative) must give
    each node the same scores: the bipartite decode has to place odd
    negative codes (authority -1 encodes to -1) on the authority side."""
    n, k = 60, 30
    docs = spark.range(n).selectExpr("id AS doc_id")
    edges = synth_link_graph(docs, n)
    base = {
        r["doc_id"]: (r["salsa_auth_ppb"], r["salsa_hub_ppb"])
        for r in salsa(edges, docs.selectExpr("doc_id AS node")).collect()
    }
    shifted = salsa(
        edges.selectExpr(f"src - {k} AS src", f"dst - {k} AS dst"),
        docs.selectExpr(f"doc_id - {k} AS node"),
    )
    got = {
        r["doc_id"] + k: (r["salsa_auth_ppb"], r["salsa_hub_ppb"])
        for r in shifted.collect()
    }
    assert any(a for a, _ in base.values()) and any(h for _, h in base.values())
    assert got == base
