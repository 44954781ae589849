"""Label-propagation community detection over the crawl link graph.

Raghavan, Albert & Kumara, "Near linear time algorithm to detect
community structures in large-scale networks" (Phys. Rev. E 2007 —
public): every node starts in its own community, then each synchronous
round adopts the label the MAJORITY of its neighbors carry. After a few
rounds densely-linked page clusters (site sections, mirror farms,
template families) converge to one label while bridges between them do
not — the community complement to connected components
(operators/components.py), which only answers "reachable at all?".
For a crawler the labels drive per-COMMUNITY budget caps: a link farm
is thousands of hosts but one community, and capping budget by
community is what starves it (per-host caps don't — that is the attack).

Reference counterpart: the reference has no link graph at all (its
frontier is a flat CDX result list, src/crawler.py:54-56); this is one
of the beyond-the-reference scale operators the brief asks for.

Determinism contract (same discipline as pagerank/hits in
linkgraph.py): updates are synchronous (round i reads only round i-1
labels, so the result is partition-order independent), the adopted
label maximizes (neighbor_count, then SMALLEST label id) — a total
order, no randomized tie-break as in the paper — and isolated nodes
keep their own label. Integer-only, so the DuckDB twin is
row-identical.

Scale shape (the 100 TB story):
- the undirected neighbor list is materialized ONCE (union of both
  edge directions, distinct) and checkpointed — every round reuses it;
- each round is exactly two partial-agg shuffles: join labels on the
  neighbor key, groupBy (node, label) count, then a per-node argmax
  via one max(struct(cnt, -label)) aggregate — no window, no sort;
- lineage is truncated per round with localCheckpoint, like the
  rank-mass kernel ``_propagate`` in linkgraph.py;
- the label-join key is the neighbor id: hub pages (high in-degree)
  are hot keys, the same skew the pagerank contribution join carries —
  AQE skew-join splits them at runtime, and LPA_ITERATIONS is a small
  constant (the paper reports ~5 rounds to 95% convergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LPA_ITERATIONS = 3


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = LPA_ITERATIONS,
) -> DataFrame:
    """(node, community) after ``iterations`` synchronous
    majority-label rounds. ``nodes`` must carry a ``node`` column
    covering every vertex; ``edges`` is directed (src, dst) and is
    symmetrized here."""
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("node"),
        F.col(edges.columns[1]).cast("long").alias("nbr"),
    )
    und = (
        e.union(e.select(F.col("nbr").alias("node"), F.col("node").alias("nbr")))
        .distinct()
        .localCheckpoint()
    )
    nodes_l = nodes.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    lab = nodes_l.withColumn("lbl", F.col("node"))
    for _ in range(iterations):
        votes = (
            und.join(
                lab.select(F.col("node").alias("nbr"), F.col("lbl").alias("nlbl")),
                "nbr",
            )
            .groupBy("node", "nlbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (cnt desc, label asc) as ONE aggregate: max of
        # (cnt, -label) — both int64, no window, no per-node sort
        best = votes.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("nlbl")).alias("neg"))).alias("m")
        )
        lab = (
            lab.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(-F.col("m.neg"), F.col("lbl")).cast("long").alias("lbl"),
            )
            .localCheckpoint()
        )
    sizes = lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("csize")
    )
    return (
        lab.select("node", F.col("lbl").alias("community"))
        .join(sizes, "community")
        .select(
            F.col("node").alias("doc_id"),
            F.col("community").cast("long").alias("community"),
            F.col("csize").cast("long").alias("csize"),
        )
    )


def communities_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: majority-label communities of the arithmetic link
    graph over documents (same synthetic graph as pagerank/HITS — one
    bounded node-count scalar)."""
    from crawler_spark.operators.linkgraph import _doc_graph, _empty

    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, community long, csize long")
    return label_propagation(edges, nodes)
