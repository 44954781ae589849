"""The crawl link-graph tier: importance, trust, reach and structure.

The reference crawler schedules breadth-first with per-host politeness
(SURVEY §2.8/§2.9; src/crawler.py:205-242) — every admitted URL has the
same priority, and so does this package's frontier, which orders by
seed order and BFS depth (frontier.py). Production crawlers also rank
pages by link-graph importance (Page, Brin, Motwani, Winograd, "The
PageRank citation ranking", 1999; Abiteboul, Preda, Cobena, "Adaptive
on-line page importance computation", WWW 2003 — both public). This
module computes those signals over the crawl's link graph as queries;
none of them is wired into the frontier's ``priority`` column.

The operators, each paired with a ``*_over_documents`` driver query over
the arithmetic graph :func:`synth_link_graph` builds (:func:`_doc_graph`):
- rank mass: :func:`pagerank`, :func:`trustrank`, :func:`opic`, and
  :func:`spam_mass` composed from the first two;
- hubs and authorities: :func:`hits`, closed-form :func:`salsa`;
- reach: :func:`hyperanf` (neighborhood function) and
  :func:`harmonic_centrality`;
- structure: :func:`bowtie_regions`, :func:`triangle_counts`,
  :func:`degree_histogram`, :func:`host_link_summary`.

Two kernels carry the iterative operators:
- :func:`_propagate` — one mass-propagation step repeated: every node
  splits a mass column evenly over its out-links, and the caller's
  column expressions turn the summed inflow into the next state.
  PageRank, TrustRank and OPIC differ only in those expressions.
- :func:`_hll_balls` — per-node HyperLogLog balls grown one hop per
  round; hyperanf sums them, harmonic centrality folds their deltas.

Determinism contract (what makes this DuckDB-oracle-able): ranks are
held as **integer parts-per-billion** of total mass and every update is
integer arithmetic —

    s(v)        = Σ_{u→v} rank(u) div out_deg(u)
    rank'(v)    = base + (DAMP_NUM * s(v)) div DAMP_DEN
    base        = ((SCALE div n) * (DEN-NUM)) div DEN

Integer sums are exact and order-independent, so the result is
bit-identical regardless of partitioning, AQE re-plans, or engine —
unlike float PageRank, where partial-aggregation order perturbs ULPs.
Dangling mass (nodes with no out-links) is dropped, not redistributed;
documented deviation from the 1999 paper, shared by the oracle.

Scale shape (10^10-edge graph):
- the edge list is cast and checkpointed once per operator
  (:func:`_edge_list`); :func:`_propagate` joins it with the
  out-degrees once, so each iteration is one src-keyed join of that
  static table with the state, then a partial-agg groupBy(dst) — no
  windows, no Python. On a real cluster, bucket ``edges`` by ``src``
  once (DISTRIBUTE BY) so every iteration's join is co-partitioned and
  only the state table (n rows) moves.
- lineage is truncated per iteration with localCheckpoint (same
  discipline as operators/components.py — Catalyst re-analysis of a
  T-deep iterative plan is superlinear); swap for reliable checkpoint
  on a cluster.
- driver traffic per iteration: zero (no fixpoint probe — the
  iteration count is fixed so the oracle can unroll it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_ITERATIONS = 5
PR_SCALE = 1_000_000_000  # total rank mass, parts-per-billion
PR_DAMP_NUM = 85  # damping d = 0.85 as an exact rational
PR_DAMP_DEN = 100
# Integer rank needs resolution: with init = SCALE div n, a graph with
# n close to (or above) SCALE truncates every node's mass toward 0 and
# the loop silently computes garbage. Guarded fail-fast below; at the
# 10^10-node tier raise PR_SCALE (int64 headroom allows up to ~1e17:
# the damping multiply 85 * SCALE must stay under 2^63).
RANK_MIN_RESOLUTION = 1_000


def _check_rank_resolution(n_nodes: int) -> None:
    if n_nodes > 0 and PR_SCALE // n_nodes < RANK_MIN_RESOLUTION:
        raise ValueError(
            f"integer rank resolution too coarse: PR_SCALE div n = "
            f"{PR_SCALE // n_nodes} < {RANK_MIN_RESOLUTION} at n = "
            f"{n_nodes}; raise PR_SCALE (safe to ~1e17 in int64)"
        )


# Synthetic link-graph construction (test/bench scaffolding, not engine
# code): doc u emits 1 + u % 3 out-links, the k-th to
# (u * MULT + STEP * (k+1)) mod n — a multiplicative-hash scatter so the
# graph has hubs, chains and cycles but is a closed-form function both
# engines can derive. Constants are primes small enough that
# u * MULT stays far from int64 overflow at any test SF.
LINK_MULT = 1_000_003
LINK_STEP = 7_919
LINK_MAX_DEG = 3


def synth_link_graph(docs: DataFrame, n_docs: int) -> DataFrame:
    """(src, dst) edge list derived arithmetically from doc_id
    (doc_ids are contiguous 0..n-1 in the testdata). Self-loops and
    duplicate edges removed — out_deg is computed after both."""
    d = docs.select(F.col("doc_id").cast("long").alias("src"))
    k = F.explode(F.sequence(F.lit(1), (F.col("src") % LINK_MAX_DEG) + 1)).alias("k")
    e = d.select("src", k).select(
        "src",
        ((F.col("src") * LINK_MULT + F.lit(LINK_STEP) * F.col("k")) % n_docs).alias("dst"),
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def _edge_list(edges: DataFrame, reverse: bool = False) -> DataFrame:
    """(src, dst) longs from the first two columns of ``edges`` (swapped
    when ``reverse``), checkpointed once: the operators that call this
    read their edge list more than once (per round, or per direction)."""
    src, dst = F.col(edges.columns[0]), F.col(edges.columns[1])
    if reverse:
        src, dst = dst, src
    return edges.select(
        src.cast("long").alias("src"), dst.cast("long").alias("dst")
    ).localCheckpoint()


def _doc_graph(docs: DataFrame) -> tuple[int, DataFrame, DataFrame]:
    """(n, nodes, edges) of a driver query: the document count (one
    bounded driver scalar), the ``node`` list and the arithmetic link
    graph over ``docs``."""
    n = docs.count()
    nodes = docs.select(F.col("doc_id").cast("long").alias("node"))
    return n, nodes, synth_link_graph(docs, n)


def _empty(docs: DataFrame, ddl: str) -> DataFrame:
    """Zero-row result typed by ``ddl``: a driver query over an empty
    slice returns this instead of dividing by a zero node count."""
    return docs.sparkSession.createDataFrame([], ddl)


def _propagate(
    e: DataFrame, state: DataFrame, mass: str, new_cols: list, iterations: int
) -> tuple[DataFrame, DataFrame]:
    """The rank-mass kernel of pagerank, trustrank and opic: returns
    (state, src_deg) after ``iterations`` steps, src_deg = (src, out_deg).

    ``e`` is an :func:`_edge_list`; ``state`` has a ``node`` row for
    every vertex and a ``mass`` column. Each step sums the inflow
    s(v) = Σ_{u→v} mass(u) div out_deg(u), 0 where nothing flows in,
    then replaces the state with ``node`` plus ``new_cols`` — column
    expressions over the old state and ``s``.

    The static ``e ⋈ src_deg`` join is checkpointed once, so a step is
    one src-keyed join with the state plus a partial-agg groupBy(dst),
    and the state is checkpointed per step. ``src_deg`` itself stays a
    plan over ``e``: the one job that checkpoints the join computes it."""
    src_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ed = e.join(src_deg, "src").localCheckpoint()
    state = state.localCheckpoint()
    for _ in range(iterations):
        inflow = (
            ed.join(state.select(F.col("node").alias("src"), mass), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr(f"{mass} div out_deg")).alias("s"))
        )
        state = (
            state.join(inflow, "node", "left")
            .withColumn("s", F.coalesce("s", F.lit(0).cast("long")))
            .select("node", *new_cols)
            .localCheckpoint()
        )
    return state, src_deg


def _hll_balls(e: DataFrame, nodes: DataFrame, rounds: int) -> DataFrame:
    """(grp, t, est) for t = 0..rounds: the portable-HLL estimate of
    |B_t(v)|, the nodes within t hops of v along ``e`` (an
    :func:`_edge_list`), for every ``node`` v.

    B_t(v) = B_{t-1}(v) ∪ ⋃_{v→w} B_{t-1}(w) is, on register tables,
    ONE equi-join + ONE max partial-agg per round, lineage truncated
    per round. The join fans out |E|·m rows per round — the documented
    HyperANF cost — and the max-merge collapses it map-side before the
    shuffle."""
    from crawler_spark.operators.hll import hll_estimate, hll_registers

    keyed = nodes.select(
        F.col("node").cast("long").alias("grp"),
        F.col("node").cast("string").alias("value"),
    )
    regs = hll_registers(keyed, "grp", "value").localCheckpoint()

    def _est(t: int, r: DataFrame) -> DataFrame:
        return hll_estimate(r).select("grp", F.lit(t).cast("int").alias("t"), "est")

    balls = _est(0, regs)
    for t in range(1, rounds + 1):
        nbr = e.join(regs.withColumnRenamed("grp", "dst"), "dst").select(
            F.col("src").alias("grp"), "bucket", "rho"
        )
        regs = (
            regs.unionByName(nbr)
            .groupBy("grp", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint()
        )
        balls = balls.unionByName(_est(t, regs))
    return balls


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    iterations: int = PR_ITERATIONS,
) -> DataFrame:
    """(node, out_deg, in_deg, rank_ppb) after ``iterations`` exact
    integer power-iteration steps. ``nodes`` must carry a ``node``
    column covering every vertex (isolated vertices included — they end
    at ``base``)."""
    _check_rank_resolution(n_nodes)
    init = PR_SCALE // n_nodes
    base = (init * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    e = _edge_list(edges)
    ranks, src_deg = _propagate(
        e,
        nodes.select(
            F.col("node").cast("long").alias("node"),
            F.lit(init).cast("long").alias("rank_ppb"),
        ),
        "rank_ppb",
        [(F.lit(base) + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}")).alias("rank_ppb")],
        iterations,
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("in_deg"))
    return (
        ranks.join(src_deg.withColumnRenamed("src", "node"), "node", "left")
        .join(in_deg, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            "rank_ppb",
        )
    )


def pagerank_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: synthesize the arithmetic link graph over the
    documents table and rank it. One bounded driver scalar (the node
    count) — same role as the bloom sizing estimate in the frontier."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, out_deg long, in_deg long, rank_ppb long")
    return pagerank(edges, nodes, n)


def host_links_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: synthesize the arithmetic link graph and the
    doc→host dim over the documents table, then roll up to the host
    level. One bounded driver scalar (the node count) — the same role
    it plays in pagerank_over_documents."""
    _, _, edges = _doc_graph(docs)
    hosts = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat("source", F.lit(".example.com")).alias("host"),
    )
    return host_link_summary(edges, hosts)


HOSTGRAPH_TOPK = 5


def host_link_summary(
    edges: DataFrame, doc_hosts: DataFrame, k: int = HOSTGRAPH_TOPK
) -> DataFrame:
    """Host-level link graph: (src_host, dst_host, n_links, rk) — the
    k most-linked-to foreign hosts per source host. The domain-authority
    / link-spam signal layer above the page graph (host-level rollups
    are how 10^10-edge web graphs become analyzable: hosts² ≪ pages²).

    Scale shape: two dim joins resolve doc→host (at 10^10 edges make
    the doc→host dim a broadcast or a bucketed storage-partitioned
    join), then a partial-agg group-by on (src_host, dst_host) —
    hosts×hosts output, tiny — and a bounded per-src-host top-k window
    over the aggregated rows only."""
    s = doc_hosts.select(F.col("doc_id").alias("src"), F.col("host").alias("src_host"))
    t = doc_hosts.select(F.col("doc_id").alias("dst"), F.col("host").alias("dst_host"))
    agg = (
        edges.join(s, "src")
        .join(t, "dst")
        .where(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src_host").orderBy(
        F.desc("n_links"), F.asc("dst_host")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


# ----------------------------------------------------------------- HITS --
#
# Kleinberg, "Authoritative sources in a hyperlinked environment"
# (JACM 1999) — the hubs-and-authorities complement to PageRank: a page
# is a good AUTHORITY if good hubs link to it, a good HUB if it links
# to good authorities. For a crawl frontier the two scores answer
# different questions than PageRank does: authorities are what to KEEP
# (content worth fetching deeply), hubs are what to EXPAND (their
# outlinks are high-yield frontier candidates).
#
# Determinism contract (same discipline as pagerank above): scores are
# integer parts-per-billion, L1-normalized each half-step —
#
#     a_raw(v) = Σ_{u→v} h(u)                 (exact int64 sum)
#     a(v)     = (a_raw(v)·1000) div (max(total_a div 10^6, 1))
#
# i.e. ·10^9/total with the product split 10^3·10^6 so no intermediate
# exceeds ~maxdeg·10^12 — int64-safe to ~9·10^5-fold skew; the
# denominator quantization (≤ 10^-6 relative, deterministic) is the
# documented price of keeping every value integer. (Kleinberg uses L2;
# L1 keeps the fixpoint integer-expressible — a documented deviation,
# shared bit-for-bit by the oracle.)
#
# Scale shape: per half-iteration ONE shuffle (join on src or dst +
# partial-agg groupBy); totals are 1-row broadcast crosses (plan-
# quality allowlist); lineage truncated per iteration exactly like
# pagerank's loop.

HITS_ITERATIONS = 4
HITS_SCALE = 1_000_000_000


def _l1_ppb(nodes: DataFrame, raw: DataFrame, out_col: str) -> DataFrame:
    """(node, out_col): raw 'node'/'s' sums → L1-normalized integer ppb
    over ALL nodes (absent nodes get 0)."""
    total = raw.agg(F.sum("s").alias("_tot"))
    return (
        nodes.join(raw, "node", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            F.expr(
                # coalesce BOTH operands: Spark's greatest skips NULLs
                # but DuckDB's propagates them — never let one in
                "coalesce(s, 0L) * 1000"
                " div greatest(coalesce(_tot, 0L) div 1000000, 1L)"
            ).alias(out_col),
        )
    )


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = HITS_ITERATIONS,
) -> DataFrame:
    """(doc_id, auth_ppb, hub_ppb) after ``iterations`` exact integer
    mutual-reinforcement steps from a uniform hub start. ``nodes``
    must carry a ``node`` column covering every vertex."""
    e = _edge_list(edges)
    nodes_l = nodes.select(
        F.col("node").cast("long").alias("node")
    ).localCheckpoint()
    h = nodes_l.withColumn("hub_ppb", F.lit(HITS_SCALE).cast("long"))
    a = nodes_l.withColumn("auth_ppb", F.lit(0).cast("long"))
    for _ in range(iterations):
        a_raw = (
            e.join(
                h.select(F.col("node").alias("src"), "hub_ppb"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub_ppb").alias("s"))
        )
        # only h is checkpointed: a's lineage is one join off the
        # previous h checkpoint, so depth stays O(1) per iteration
        # while the loop runs half as many eager materializations
        a = _l1_ppb(nodes_l, a_raw, "auth_ppb")
        h_raw = (
            e.join(
                a.select(F.col("node").alias("dst"), "auth_ppb"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth_ppb").alias("s"))
        )
        h = _l1_ppb(nodes_l, h_raw, "hub_ppb").localCheckpoint()
    return (
        a.join(h, "node")
        .select(F.col("node").alias("doc_id"), "auth_ppb", "hub_ppb")
    )


def hits_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: the arithmetic link graph over documents, scored
    by HITS. Reuses synth_link_graph (one bounded node-count scalar)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, auth_ppb long, hub_ppb long")
    return hits(edges, nodes)


TR_SEED_MOD = 17  # driver-query seed rule: doc_id % 17 == 0 is trusted


def trustrank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    n_seeds: int,
    iterations: int = PR_ITERATIONS,
) -> DataFrame:
    """(node, is_seed, rank_ppb) — TrustRank (Gyöngyi, Garcia-Molina,
    Pedersen, "Combating Web Spam with TrustRank", VLDB 2004 — public):
    PageRank whose teleport vector is uniform over a TRUSTED seed set
    instead of all nodes, so score flows outward from vetted hosts and
    link farms (which no trusted page links to) starve. The crawl-
    frontier consumer is the anti-spam priority tier: pages unreachable
    from trust get demoted no matter how densely they cite each other —
    the complement to trap_detect's URL-shape signal and
    community_labels' farm-budget cap.

    Same exact-integer contract as :func:`pagerank` (parts-per-billion
    mass, div/sum updates, bit-identical across engines): seeds start
    with ``SCALE div n_seeds``, everything else 0; the teleport base is
    paid only to seeds. Dangling mass is dropped (same documented
    deviation as pagerank, shared by the oracle).

    Scale shape: identical to pagerank — per iteration one src-keyed
    join + one partial-agg groupBy(dst), lineage truncated per step;
    the seed table rides along as a broadcast-sized flag column."""
    _check_rank_resolution(n_seeds)
    init = PR_SCALE // n_seeds
    base = (init * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    paid = F.col("is_seed").cast("long")  # 1 for a seed, else 0
    start = (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(
            seeds.select(F.col("node").cast("long").alias("node"))
            .withColumn("_s", F.lit(True)),
            "node",
            "left",
        )
        .select("node", F.coalesce("_s", F.lit(False)).alias("is_seed"))
        .withColumn("rank_ppb", paid * init)
    )
    ranks, _ = _propagate(
        _edge_list(edges),
        start,
        "rank_ppb",
        [
            "is_seed",
            (paid * base + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}")).alias("rank_ppb"),
        ],
        iterations,
    )
    return ranks.select(F.col("node").alias("doc_id"), "is_seed", "rank_ppb")


def trustrank_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: arithmetic link graph + the deterministic seed rule
    doc_id % TR_SEED_MOD == 0. Two bounded driver scalars (node and
    seed counts) — same role as pagerank_over_documents' n."""
    n, nodes, edges = _doc_graph(docs)
    seeds = nodes.where(F.col("node") % TR_SEED_MOD == 0)
    n_seeds = seeds.count()
    if n == 0 or n_seeds == 0:
        return _empty(docs, "doc_id long, is_seed boolean, rank_ppb long")
    return trustrank(edges, nodes, seeds, n_seeds)


OPIC_ITERATIONS = 4


def opic(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    iterations: int = OPIC_ITERATIONS,
) -> DataFrame:
    """(node, out_deg, cash_ppb, history_ppb, importance_ppb) — OPIC,
    the crawler-native importance measure (Abiteboul, Preda, Cobena,
    "Adaptive on-line page importance computation", WWW 2003 — public):
    every page starts with equal cash; each round a page spends its
    cash — banked into its history — and the cash flows in equal parts
    to its out-links. importance = history + cash converges to PageRank-
    like mass but needs NO damping and is incrementally updatable as
    the crawl discovers pages, which is why production frontiers
    (Heritrix budgets, OPIC-style scoring in Nutch) use it for
    priority. The synchronous fixed-iteration variant here is the
    oracle-unrollable twin of the online algorithm.

    Exact-integer contract (same as pagerank): cash in parts-per-
    billion, contribution = cash div out_deg — truncation residue and
    dangling cash evaporate instead of redistributing (documented
    deviation from the paper's virtual node, shared by the oracle).

    Scale shape: per iteration one src-keyed join + one partial-agg
    groupBy(dst) + a map-side history add; lineage truncated per step
    with localCheckpoint — identical plan economy to pagerank, one
    extra long column."""
    _check_rank_resolution(n_nodes)
    state, src_deg = _propagate(
        _edge_list(edges),
        nodes.select(
            F.col("node").cast("long").alias("node"),
            F.lit(PR_SCALE // n_nodes).cast("long").alias("cash"),
            F.lit(0).cast("long").alias("history"),
        ),
        "cash",
        [
            F.col("s").alias("cash"),
            (F.col("history") + F.col("cash")).cast("long").alias("history"),
        ],
        iterations,
    )
    return (
        state.join(src_deg.withColumnRenamed("src", "node"), "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.col("cash").alias("cash_ppb"),
            F.col("history").alias("history_ppb"),
            (F.col("cash") + F.col("history")).cast("long").alias("importance_ppb"),
        )
    )


def opic_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: OPIC over the arithmetic link graph. One bounded
    driver scalar (node count)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(
            docs,
            "doc_id long, out_deg long, cash_ppb long, history_ppb long,"
            " importance_ppb long",
        )
    return opic(edges, nodes, n)


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(direction, log2_bucket, n_nodes, min_deg, max_deg) — the
    power-law degree-distribution check every web-graph study reports
    (Broder et al., "Graph structure in the web", WWW 2000): node
    counts per log2 degree bucket, for in- and out-degree. A healthy
    crawl graph is heavy-tailed; a flat or truncated tail is the
    classic symptom of a trap-dominated or mirror-dominated crawl.
    log2 bucket = length(bin(deg)) − 1 — integer, no float log.

    Scale shape: two partial aggs (degree per node, then nodes per
    bucket) per direction; output ≤ 64 rows per direction."""
    e = edges.select(
        F.col(edges.columns[0]).cast("long").alias("src"),
        F.col(edges.columns[1]).cast("long").alias("dst"),
    )
    out = []
    for direction, key in (("out", "src"), ("in", "dst")):
        deg = e.groupBy(key).agg(F.count(F.lit(1)).alias("deg"))
        out.append(
            deg.groupBy(
                (F.length(F.bin(F.col("deg"))) - 1).cast("int").alias("log2_bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.min("deg").alias("min_deg"),
                F.max("deg").alias("max_deg"),
            )
            .withColumn("direction", F.lit(direction))
        )
    return out[0].unionByName(out[1]).select(
        "direction", "log2_bucket", "n_nodes", "min_deg", "max_deg"
    )


def degree_histogram_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: degree histogram of the arithmetic link graph."""
    n, _, edges = _doc_graph(docs)
    if n == 0:
        return _empty(
            docs,
            "direction string, log2_bucket int, n_nodes long, min_deg long,"
            " max_deg long",
        )
    return degree_histogram(edges)


# Relative spam mass above this per-mille flags the page (essentially
# no trust reaches it despite its rank).
SPAM_MASS_FLAG_PM = 990


def spam_mass(pr: DataFrame, tr: DataFrame) -> DataFrame:
    """(doc_id, rank_ppb, trust_ppb, is_seed, spam_mass_pm, spam_flag) —
    relative spam mass (Gyöngyi, Berkhin, Garcia-Molina, Pedersen,
    "Link spam detection based on mass estimation", VLDB 2006, public):
    the fraction of a page's PageRank that does NOT come from trusted
    sources, m(p) = (PR(p) − TR(p)) / PR(p). High-rank pages with high
    spam mass are the link-farm beneficiaries TrustRank alone only
    implicitly demotes — this makes the demotion signal explicit and
    thresholdable for the frontier.

    Exact integer: both inputs are ppb longs from the same-scale loops,
    mass in truncating per-mille, clamped at 0 (TR can locally exceed
    PR because trust teleports concentrate on seeds). PR > 0 always
    (every node earns the teleport base).

    Scale shape: one equi-join of two node-keyed tables — the two rank
    loops dominate; this composition adds a single hash join."""
    p = pr.select("doc_id", "rank_ppb")
    t = tr.select(
        "doc_id", F.col("is_seed"), F.col("rank_ppb").alias("trust_ppb")
    )
    j = p.join(t, "doc_id")
    mass = F.expr("greatest(0L, rank_ppb - trust_ppb) * 1000 div rank_ppb")
    return j.select(
        "doc_id", "rank_ppb", "trust_ppb", "is_seed",
        mass.alias("spam_mass_pm"),
        (mass >= SPAM_MASS_FLAG_PM).alias("spam_flag"),
    )


def spam_mass_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: PageRank and TrustRank over the same synthetic
    graph + seed rule, composed into per-page spam mass. The synthetic
    graph is derived once (checkpointed here); each loop then casts
    and checkpoints its own copy and builds its own out-degrees."""
    n, nodes, edges = _doc_graph(docs)
    seeds = nodes.where(F.col("node") % TR_SEED_MOD == 0)
    n_seeds = seeds.count()
    if n == 0 or n_seeds == 0:
        return _empty(
            docs,
            "doc_id long, rank_ppb long, trust_ppb long, is_seed boolean,"
            " spam_mass_pm long, spam_flag boolean",
        )
    edges = edges.localCheckpoint()
    pr = pagerank(edges, nodes, n)
    tr = trustrank(edges, nodes, seeds, n_seeds)
    return spam_mass(pr, tr)


# ---------------------------------------------------------------------------
# Bow-tie decomposition (Broder et al., "Graph structure in the web")
# ---------------------------------------------------------------------------
BOWTIE_MAX_ITER = 50


def _reach_fixpoint(e: DataFrame, seed: DataFrame, frm: str, to: str) -> DataFrame:
    """Nodes reachable from ``seed`` following edges ``frm``→``to``.
    BFS fixpoint with the components.py lineage discipline
    (localCheckpoint per round); the probe is one bounded count — the
    visited set only grows, so count equality IS the fixpoint.

    Fail-fast: if the visited set is still growing after
    BOWTIE_MAX_ITER expansion rounds the fixpoint was NOT reached
    (graph eccentricity from the pivot exceeds the cap) and a silent
    return would under-compute reach and mislabel regions vs the
    unbounded recursive-CTE oracle — raise instead, same discipline as
    _check_rank_resolution. Growth ON the final round is not by itself
    divergence (eccentricity exactly equal to the cap completes there),
    so one extra confirming probe round runs before raising."""
    visited = seed.select(F.col("node").cast("long").alias("node")).localCheckpoint()
    n = visited.count()
    for _ in range(BOWTIE_MAX_ITER + 1):
        new = e.join(
            visited.withColumnRenamed("node", frm), frm
        ).select(F.col(to).alias("node"))
        visited = visited.unionByName(new).distinct().localCheckpoint()
        n2 = visited.count()
        if n2 == n:
            return visited
        n = n2
    raise RuntimeError(
        f"bowtie reach BFS did not converge within {BOWTIE_MAX_ITER} rounds "
        f"(visited still grew to {n}); raise BOWTIE_MAX_ITER for graphs with "
        f"eccentricity > {BOWTIE_MAX_ITER} from the pivot"
    )


def bowtie_regions(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(region, n_nodes, min_node) — the bow-tie map of the crawl graph
    (Broder, Kumar, Maghoul, Raghavan, Rajagopalan, Stata, Tomkins,
    Wiener, "Graph structure in the web", WWW 2000, public): pick the
    highest-total-degree node as the pivot (deterministic: degree desc,
    node asc), compute its forward- and backward-reachable sets, and
    classify every node — ``core`` (both: the pivot's SCC), ``in``
    (reaches the core), ``out`` (reached from it), ``other`` (Broder's
    tendrils/tubes/disconnected, merged — splitting those needs extra
    passes a crawl health check doesn't buy from). A healthy broad
    crawl shows a dominant core; a tiny core with a huge ``out`` is the
    trap/mirror-dominance signature, and ``in`` mass is seed-list
    reach the crawler hasn't exploited.

    Scale shape: two BFS fixpoints (one equi-join + union-distinct per
    round, lineage truncated, bounded-count probe) over the SAME
    checkpointed edge list, then one label join + a ≤4-row partial agg.
    """
    e = _edge_list(edges)
    nodes_l = nodes.select(F.col("node").cast("long").alias("node"))
    odeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("_o"))
    ideg = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("_i"))
    deg = (
        nodes_l.join(odeg, "node", "left")
        .join(ideg, "node", "left")
        .select(
            "node",
            (F.coalesce("_o", F.lit(0)) + F.coalesce("_i", F.lit(0))).alias("d"),
        )
    )
    # one bounded 1-row scalar: the pivot (degree desc, node asc)
    pivot = deg.orderBy(F.desc("d"), F.asc("node")).limit(1).collect()[0]["node"]
    seed = nodes_l.where(F.col("node") == pivot)
    fwd = _reach_fixpoint(e, seed, "src", "dst").withColumn("_f", F.lit(True))
    bwd = _reach_fixpoint(e, seed, "dst", "src").withColumn("_b", F.lit(True))
    region = (
        F.when(F.col("_f").isNotNull() & F.col("_b").isNotNull(), "core")
        .when(F.col("_b").isNotNull(), "in")
        .when(F.col("_f").isNotNull(), "out")
        .otherwise("other")
    )
    return (
        nodes_l.join(fwd, "node", "left")
        .join(bwd, "node", "left")
        .select("node", region.alias("region"))
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("min_node"))
    )


def bowtie_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: bow-tie map of the arithmetic link graph."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "region string, n_nodes long, min_node long")
    return bowtie_regions(edges, nodes)


def triangle_counts(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(node, deg, n_tri, clustering_pm) — exact per-node triangle
    counts and local clustering coefficient over the UNDIRECTED version
    of the crawl graph (Suri & Vassilvitskii, "Counting triangles and
    the curse of the last reducer", WWW 2011, public — the paper is
    literally about the skew this implementation kills): every edge is
    oriented from the (degree, id)-smaller endpoint to the larger, so
    wedge generation fans out per-node by ORIENTED out-degree, which is
    O(√m) for every node no matter how large its raw degree — a
    10^7-degree hub generates no 10^14-wedge task. Triangles close via
    one equi-semi-join of wedges against oriented edges.

    clustering_pm = 2000·n_tri div (deg·(deg−1)) (integer per-mille;
    0 for deg < 2) — the link-farm / template-cluster density signal:
    organic web neighborhoods are sparse, farms are near-cliques.

    Scale shape: one distinct (undirected edges), one degree agg, the
    orientation map join, one wedge self-join on the oriented source
    (bounded fan-out by construction), one closing equi-join, then a
    3-way explode + partial-agg count per node."""
    ue = (
        edges.select(
            F.col(edges.columns[0]).cast("long").alias("a"),
            F.col(edges.columns[1]).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        ue.select(F.col("u").alias("node"))
        .unionByName(ue.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # orient from (deg, id)-smaller to larger — acyclic total order
    oe = (
        ue.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
        .localCheckpoint()
    )
    w1 = oe.select(F.col("s"), F.col("t").alias("x"))
    w2 = oe.select(F.col("s"), F.col("t").alias("y"))
    wedges = w1.join(w2, "s").where(F.col("x") < F.col("y"))
    # the closing edge (x, y) is oriented one way or the other; the
    # undirected edge table answers both with one canonical key
    tri = wedges.join(
        ue.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    per_node = (
        tri.select(F.explode(F.array("s", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    nodes_l = nodes.select(F.col("node").cast("long").alias("node"))
    out = (
        nodes_l.join(deg, "node", "left")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
    )
    return out.select(
        "node", "deg", "n_tri",
        F.expr(
            "CASE WHEN deg >= 2 THEN 2000 * n_tri div (deg * (deg - 1)) "
            "ELSE 0 END"
        ).alias("clustering_pm"),
    )


def triangles_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: triangle census of the arithmetic link graph
    AUGMENTED with ring edges i→i+1 and i→i+2 (mod n) — the arithmetic
    generator alone is nearly triangle-free, so the ring plants ~n
    closed wedges and the census exercises every stage non-trivially
    (the oracle mirrors the union)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, deg long, n_tri long, clustering_pm long")
    ring = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.array(
                (F.col("node") + 1) % n, (F.col("node") + 2) % n
            )
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    edges = edges.unionByName(ring).distinct()
    return triangle_counts(edges, nodes).withColumnRenamed("node", "doc_id")


# ---------------------------------------------------------------------------
# HyperANF — the neighborhood function / effective-diameter estimator
# ---------------------------------------------------------------------------
ANF_ROUNDS = 3


def hyperanf(
    edges: DataFrame, nodes: DataFrame, n_nodes: int, rounds: int = ANF_ROUNDS
) -> DataFrame:
    """(t, nf_est, pairs_reached_pm) — the neighborhood function
    NF(t) = Σ_v |B_t(v)| estimated by per-node HyperLogLog counters
    (Boldi, Rosa, Vigna, "HyperANF: approximating the neighbourhood
    function of very large graphs on a budget", WWW 2011, public —
    the method behind the Facebook "four degrees of separation"
    measurement). Exact per-node balls need O(n²) state; HyperANF
    keeps m registers per node and one round per radius
    (:func:`_hll_balls`), and NF(t) is one groupBy(t) sum. The
    NF curve is the crawl's reach profile — how much of the web a
    t-hop frontier expansion can touch — and the t where it plateaus
    is the effective diameter.

    Registers reuse the engine-wide portable HLL (operators/hll.py:
    md5-prefix hash, bin()-rank, integer harmonic fold, precomputed
    linear-counting table), so every value is exact int64 and the
    DuckDB twin is row-identical. m = HLL_M (256) here for oracle
    reuse; production HyperANF runs m = 16–64 per node (the paper's
    "budget") — one constant, same plan.

    Scale shape: see :func:`_hll_balls`; register table ≤ n·m rows.
    pairs_reached_pm = NF(t)·1000 div n² (the fraction of all ordered
    pairs within distance t)."""
    return (
        _hll_balls(_edge_list(edges), nodes, rounds)
        .groupBy("t")
        .agg(F.sum("est").cast("long").alias("nf_est"))
        .select(
            "t",
            "nf_est",
            F.expr(f"nf_est * 1000 div {n_nodes * n_nodes}").alias("pairs_reached_pm"),
        )
    )


def hyperanf_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: neighborhood function of the arithmetic link
    graph. One bounded driver scalar (node count)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "t int, nf_est long, pairs_reached_pm long")
    return hyperanf(edges, nodes, n)


# ---------------------------------------------------------------- SALSA --
#
# Lempel & Moran, "SALSA: the stochastic approach for link-structure
# analysis" (WWW 2000 / TOIS 2001) — the random-walk counterpart to
# HITS: authority weight is the stationary distribution of the
# two-step walk dst ← hub → dst' on the bipartite (hub, authority)
# graph. Unlike HITS it is provably immune to the TKC effect the
# paper is named for: a tightly-knit link farm cannot absorb the
# whole score mass, because SALSA's fixpoint has a CLOSED FORM
# (paper Prop. 2 / Lemma 2) — no iteration at all:
#
#     auth(v) = (|A_C| / |A|) · (indeg(v) / Σ_{u ∈ A_C} indeg(u))
#     hub(u)  = (|H_C| / |H|) · (outdeg(u) / Σ_{w ∈ H_C} outdeg(w))
#
# where C is v's connected component of the BIPARTITE link graph
# (same components as the authority-side co-citation graph, without
# materializing the quadratic co-citation edges), A/H the authority/
# hub sides. So the whole algorithm is: one connected-components run
# (operators/components.py large-star/small-star, O(log² n) rounds)
# + two degree aggregations + two per-component aggregations — every
# shuffle on a key, nothing iterative over scores, nothing quadratic.
#
# Determinism contract (same discipline as pagerank/HITS): integer
# parts-per-billion with the division order fixed and mirrored by the
# oracle — comp_share = |A_C|·10⁹ div |A| (≤ 10⁹),
# deg_share = indeg·10⁹ div Σindeg_C (≤ 10⁹),
# auth_ppb = comp_share·deg_share div 10⁹ (product ≤ 10¹⁸ < int64
# max, safe at ANY graph size); fail-fast if a degree or side count
# exceeds 9.2·10⁹ (where x·10⁹ itself would wrap — the same guard
# family as _check_rank_resolution).

SALSA_SCALE = 1_000_000_000
_SALSA_MAX_SAFE = (1 << 63) // SALSA_SCALE  # ≈ 9.2e9


def _salsa_side(
    deg: DataFrame, comp: DataFrame, parity: int, out_col: str
) -> DataFrame:
    """One side of SALSA: ``deg`` = (node, deg) for the hub (parity 0)
    or authority (parity 1) side; ``comp`` = bipartite components.
    Returns (node, out_col) with the closed-form ppb score. The decode
    uses pmod and (node − parity) div 2, exact for negative ids too
    (``%`` and ``div`` truncate toward zero: -1 % 2 = -1)."""
    side = deg.join(
        comp.where(F.pmod(F.col("node"), F.lit(2)) == parity).select(
            F.expr(f"(node - {parity}) div 2").alias("node"), "component"
        ),
        "node",
    )
    tot = side.agg(
        F.count(F.lit(1)).alias("n_side"), F.max("deg").alias("max_deg")
    ).first()
    n_side, max_deg = int(tot["n_side"] or 0), int(tot["max_deg"] or 0)
    if max(n_side, max_deg) > _SALSA_MAX_SAFE:
        raise ValueError(
            f"salsa: side size {n_side} / max degree {max_deg} exceeds "
            f"{_SALSA_MAX_SAFE}; x*{SALSA_SCALE} would overflow int64"
        )
    per_comp = side.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("deg").alias("dsum_c")
    )
    return (
        side.join(per_comp, "component")
        .select(
            "node",
            F.expr(
                f"(n_c * {SALSA_SCALE} div {max(n_side, 1)})"
                f" * (deg * {SALSA_SCALE} div dsum_c)"
                f" div {SALSA_SCALE}"
            ).alias(out_col),
        )
    )


def salsa(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """(doc_id, salsa_auth_ppb, salsa_hub_ppb): closed-form SALSA over
    a distinct (src, dst) edge list. ``nodes`` must carry a ``node``
    column covering every vertex; vertices with no in-links score
    auth 0, no out-links hub 0 (they are outside the respective
    chain, per the paper)."""
    from crawler_spark.operators.components import connected_components

    e = _edge_list(edges)
    # bipartite encoding: hub u → 2u, authority v → 2v+1 (disjoint ids)
    comp = connected_components(
        e.select(
            (F.col("src") * 2).alias("id_a"),
            (F.col("dst") * 2 + 1).alias("id_b"),
        )
    ).localCheckpoint()
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    auth = _salsa_side(indeg, comp, 1, "salsa_auth_ppb")
    hub = _salsa_side(outdeg, comp, 0, "salsa_hub_ppb")
    return (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("salsa_auth_ppb", F.lit(0)).cast("long").alias(
                "salsa_auth_ppb"
            ),
            F.coalesce("salsa_hub_ppb", F.lit(0)).cast("long").alias(
                "salsa_hub_ppb"
            ),
        )
    )


def salsa_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: closed-form SALSA over the arithmetic link graph.
    Driver scalars are bounded: node count + one 2-value total per
    side (the overflow guard)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, salsa_auth_ppb long, salsa_hub_ppb long")
    return salsa(edges, nodes)


# -------------------------------------------------- harmonic centrality --
#
# Boldi & Vigna, "Axioms for centrality" (Internet Mathematics 2014,
# public) single out harmonic centrality H(v) = Σ_{u≠v} 1/d(u, v) as
# the one classic index satisfying all their axioms, and compute it at
# web scale with HyperANF balls (WWW 2011) — exactly the machinery
# above: H(v) = Σ_t (|B_t(v)| − |B_{t−1}(v)|) / t over IN-balls
# (nodes that reach v), which for a crawler ranks pages by how cheaply
# the whole web funnels into them — the principled seed-selection /
# frontier-priority score beside pagerank's random surfer.
#
# Determinism contract: the same portable integer HLL as hyperanf;
# hc_milli(v) = Σ_{t≥1} greatest(Δ_t, 0) · 1000 div t — per-term
# truncating division mirrored by the oracle; Δ clamped at 0 because
# the LC→raw estimator switch can dip a per-node estimate by one even
# as the register set grows. Max value n·1000 — int64-safe at any
# crawl size.
#
# Scale shape: the same _hll_balls kernel as hyperanf, plus ONE window
# partitioned by node (never global) for the per-node delta series —
# ≤ rounds+1 rows per partition key.

HC_SCALE = 1_000


def harmonic_centrality(
    edges: DataFrame, nodes: DataFrame, rounds: int = ANF_ROUNDS
) -> DataFrame:
    """(doc_id, hc_milli): harmonic centrality in exact milli-units,
    per-node HyperANF in-ball deltas weighted 1/t."""
    from pyspark.sql import Window

    # reversed edges: the kernel grows OUT-balls, so reversing makes
    # ball(v) accumulate the nodes that REACH v
    hist = _hll_balls(_edge_list(edges, reverse=True), nodes, rounds)
    w = Window.partitionBy("grp").orderBy("t")
    hc = (
        hist.withColumn("d", F.col("est") - F.lag("est").over(w))
        .where(F.col("t") >= 1)
        .groupBy("grp")
        .agg(
            F.sum(
                F.expr(f"greatest(d, 0L) * {HC_SCALE} div t")
            ).alias("hc_milli")
        )
    )
    return (
        nodes.select(F.col("node").cast("long").alias("node"))
        .join(hc, F.col("node") == F.col("grp"), "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("hc_milli", F.lit(0)).cast("long").alias("hc_milli"),
        )
    )


def harmonic_over_documents(docs: DataFrame) -> DataFrame:
    """Driver query: harmonic centrality of the arithmetic link graph.
    One bounded driver scalar (node count)."""
    n, nodes, edges = _doc_graph(docs)
    if n == 0:
        return _empty(docs, "doc_id long, hc_milli long")
    return harmonic_centrality(edges, nodes)
