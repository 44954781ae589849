"""TrustRank, posting-size plan, vocab coverage vs pure-Python oracles."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from pyspark.sql import functions as F

from crawler_spark.operators.invindex import postings_size_plan
from crawler_spark.operators.linkgraph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    trustrank,
)
from crawler_spark.operators.termstats import vocab_coverage
from tests.test_linkgraph import _random_graph


def _py_trustrank(edges, nodes, seeds, iters):
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    init = PR_SCALE // len(seeds)
    base = (init * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    rank = {n: (init if n in seeds else 0) for n in nodes}
    for _ in range(iters):
        sums = defaultdict(int)
        for s, d in edges:
            sums[d] += rank[s] // out_deg[s]
        rank = {
            n: (base if n in seeds else 0)
            + (PR_DAMP_NUM * sums.get(n, 0)) // PR_DAMP_DEN
            for n in nodes
        }
    return rank


@pytest.mark.spark
def test_trustrank_matches_python_and_starves_farms(spark):
    # seed 0 links into a chain; nodes 8-9 are a 2-cycle "farm" nothing
    # trusted points at — they must end with rank 0 under TrustRank.
    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 1), (8, 9), (9, 8)]
    nodes = list(range(10))
    seeds = {0, 4}
    e = spark.createDataFrame(edges, ["src", "dst"])
    nd = spark.createDataFrame([(n,) for n in nodes], ["node"])
    sd = spark.createDataFrame([(s,) for s in sorted(seeds)], ["node"])
    got = {
        r["doc_id"]: (r["is_seed"], r["rank_ppb"])
        for r in trustrank(e, nd, sd, len(seeds), iterations=4).collect()
    }
    want = _py_trustrank(edges, nodes, seeds, 4)
    assert {k: v[1] for k, v in got.items()} == want
    assert got[0][0] and got[4][0] and not got[8][0]
    assert want[8] == 0 and want[9] == 0  # farm starved
    assert want[1] > 0 and want[2] > 0  # trust flows down the chain

    for seed in range(5):
        edges, n = _random_graph(seed)
        seeds = set(random.Random(seed).sample(range(n), 4))
        e = spark.createDataFrame(edges, "src long, dst long")
        nd = spark.range(n).selectExpr("id AS node")
        sd = spark.createDataFrame([(s,) for s in sorted(seeds)], "node long")
        got = {
            r["doc_id"]: (r["is_seed"], r["rank_ppb"])
            for r in trustrank(e, nd, sd, len(seeds), iterations=4).collect()
        }
        want = _py_trustrank(edges, range(n), seeds, 4)
        assert got == {v: (v in seeds, want[v]) for v in range(n)}, seed


def _py_postings_sizes(rows, min_df):
    postings = defaultdict(set)
    for doc_id, text in rows:
        for t in text.split(" "):
            if t:
                postings[t].add(doc_id)
    out = {}
    for t, ds in postings.items():
        if len(ds) < min_df:
            continue
        prev, gb, vb = -1, 0, 0
        for d in sorted(ds):
            bits = (d - prev).bit_length()
            gb += 2 * bits - 1
            vb += (bits + 6) // 7
            prev = d
        out[t] = (len(ds), len(ds) * 8, gb, vb, vb * 1000 // (len(ds) * 8))
    return out


@pytest.mark.spark
def test_postings_size_plan_matches_flat_python(spark):
    # doc_ids straddle the PS_BUCKET boundary so the hierarchical
    # two-level gap path (bucket-first rows take the summary's prev
    # max) is actually exercised, not just the within-bucket lag
    rows = [
        (0, "a b c"),
        (1, "a b"),
        (4095, "a"),
        (4096, "a b"),
        (9000, "a c"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["term"]: (
            r["df"], r["raw_bytes"], r["gamma_bits"], r["varint_bytes"],
            r["ratio_pm"],
        )
        for r in postings_size_plan(df).collect()
    }
    assert got == _py_postings_sizes(rows, 2)


@pytest.mark.spark
def test_vocab_coverage_zipf_table(spark):
    # 10×'a', 5×'b', 1×'c' -> top-100 covers everything; totals exact
    df = spark.createDataFrame(
        [(0, " ".join(["a"] * 10 + ["b"] * 5 + ["c"]))], ["doc_id", "text"]
    )
    rows = {r["k"]: r for r in vocab_coverage(df, ks=(1, 2, 100)).collect()}
    assert rows[1]["covered_tokens"] == 10 and rows[1]["vocab_terms"] == 1
    assert rows[2]["covered_tokens"] == 15
    assert rows[100]["covered_tokens"] == 16 and rows[100]["vocab_terms"] == 3
    assert rows[1]["coverage_pm"] == 10 * 1000 // 16
    assert all(r["total_tokens"] == 16 for r in rows.values())
