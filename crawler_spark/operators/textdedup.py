"""Document deduplication for the training-data pipeline tier.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, and SimHash —
all as compositions of built-in DataFrame ops (JVM-side; the only Python
is plan construction). Each has a bit-identical ANSI-SQL twin in
:mod:`crawler_spark.oracle.sqlgen` for the DuckDB oracle gate.

Scale notes (100 TB / 10^10 docs):
- exact dedup: one hash-shuffle on a 16-byte key; first-wins is a
  partial-agg-friendly ``min_by`` shape, not a window over raw rows.
- Jaccard/MinHash explode shingles → the shuffle is O(total shingles).
  The all-pairs-sharing-a-shingle join is quadratic in posting-list
  length, so at scale you MUST prune hot shingles (a stopword shingle
  shared by 10^8 docs is useless for dedup anyway): `max_shingle_freq`
  caps posting lists, turning the worst case into bounded skew. This is
  the same skew discipline as the frontier's mega-host salting.
- MinHash+LSH is the scale path (linear in docs, band-bucket join
  instead of all-pairs); Jaccard verification then runs only on LSH
  candidates.
- SimHash is a pure per-row projection + one groupBy — cheapest of all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions.texthash import h64, h64_seeded
from crawler_spark.functions.textstats import content_md5, word_ngrams

# Shared knobs — sqlgen imports these.
NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_HASHES = 8
LSH_BANDS = 4  # rows per band = MINHASH_HASHES // LSH_BANDS = 2
SIMHASH_BITS = 32
# Candidate-generation cap per (band_idx, band_hash) bucket. A band value
# shared by 10^5 boilerplate-identical docs (parked domains, empty pages)
# would fan out 10^10 pairs from ONE bucket; buckets above the cap are
# dropped from candidate generation — the same pruning role as the
# hot-shingle cap in ngram_jaccard_pairs and SIMHASH_HOT_BLOCK_MAX. Pairs
# agreeing ONLY inside a hot bucket are the documented recall trade (at
# web scale those docs are exact dups the md5 pass already collapses).
LSH_HOT_BUCKET_MAX = 1024


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup, first-wins by lowest id per content hash.

    ``min_by`` aggregates map-side (partial agg) — at 10^10 rows this
    beats a row_number window, which must materialize every row of each
    group on one partition before ranking."""
    return (
        df.select(F.col(id_col), content_md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "content_md5")
    )


def distinct_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = NGRAM_N
) -> DataFrame:
    """(id, ngram) distinct pairs — the posting-list relation."""
    return df.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("ng")
    ).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, jaccard ≥ threshold) over word n-grams.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|), computed from one self-equi-join on
    the shingle. ``max_shingle_freq`` drops shingles whose posting list
    exceeds the cap (mandatory at scale; None = exact, used by the oracle
    gate at small SF). ``shingles`` injects a precomputed (persisted)
    posting-list relation so callers composing several shingle consumers
    pay the explode+distinct once."""
    gd = shingles if shingles is not None else distinct_shingles(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        hot = gd.groupBy("ng").count().where(F.col("count") > max_shingle_freq).select("ng")
        gd = gd.join(F.broadcast(hot), "ng", "left_anti")
    sizes = gd.groupBy(id_col).agg(F.count("*").alias("n_ng"))
    a = gd.select(F.col(id_col).alias("id_a"), "ng")
    b = gd.select(F.col(id_col).alias("id_b"), "ng")
    common = (
        a.join(b, "ng")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_ng").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_ng").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    num_hashes: int = MINHASH_HASHES,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as columns mh0..mh{k-1}.

    One explode + one groupBy with k ``min`` aggregates — all partial-agg
    (map-side combine), single shuffle keyed on the doc id."""
    gd = shingles if shingles is not None else distinct_shingles(df, id_col, text_col, n)
    aggs = [F.min(h64_seeded(F.col("ng"), j)).alias(f"mh{j}") for j in range(num_hashes)]
    return gd.groupBy(id_col).agg(*aggs)


def band_key(sig_cols: list[Column]) -> Column:
    """Hash of one band's minhash rows (concatenated with '_')."""
    parts: list[Column] = []
    for i, c in enumerate(sig_cols):
        if i:
            parts.append(F.lit("_"))
        parts.append(c.cast("string"))
    return h64(F.concat(*parts))


def lsh_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    num_hashes: int = MINHASH_HASHES,
    bands: int = LSH_BANDS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band_idx, band_hash): bands·docs rows. At 10^10 docs this IS
    the persisted dedup index — an Iceberg table bucketed by
    (band_idx, band_hash) that incremental batches equi-join against
    (:func:`lsh_match_new`) without ever rescanning the corpus."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, shingles=shingles)
    band_frames = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_frames.append(
            sig.select(
                F.col(id_col),
                F.lit(b).alias("band_idx"),
                band_key(cols).alias("band_hash"),
            )
        )
    bt = band_frames[0]
    for f in band_frames[1:]:
        bt = bt.unionByName(f)
    return bt


def _prune_hot_buckets(bt: DataFrame, cap: int | None) -> DataFrame:
    """Drop (band_idx, band_hash) buckets holding more than ``cap`` docs
    before any bucket join — bounds the per-bucket pair fan-out to cap²
    instead of |corpus|². One partial-agg count + one equi-semi-join.

    ``bt`` is persisted here: it feeds BOTH the count aggregate and the
    semi-join probe (and the caller's pair join after that), and without
    the cache the band-table subtree — shingle explode + k-min MinHash
    shuffle — would execute once per consumer. At corpus scale the band
    table is the PERSISTED Iceberg index (lsh_band_table docstring), so
    the cache is the in-query stand-in for reading that table; Spark
    evicts it LRU after the query, same contract as semdedup's
    assignment cache."""
    if cap is None:
        return bt
    bt = bt.persist()
    keep = (
        bt.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= cap)
        .select("band_idx", "band_hash")
    )
    return bt.join(keep, ["band_idx", "band_hash"], "left_semi")


def lsh_match_new(
    new_bands: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_docs: int | None = LSH_HOT_BUCKET_MAX,
) -> DataFrame:
    """Incremental near-dup check: (id, match_id, n_hits) for every NEW
    doc sharing ≥1 LSH band bucket with the corpus index; match_id is
    the smallest matching corpus id, n_hits the shared-bucket count.

    Both inputs are band tables (:func:`lsh_band_table`); at scale the
    corpus side is the persisted index, so the per-batch cost is
    O(new-batch bands) plus a bucket-pruned equi-join — the continuous
    crawl's dedup admission path (the streaming sink's Bloom ladder is
    the EXACT-dup analogue of this near-dup path).

    Corpus-side buckets above ``max_bucket_docs`` are dropped before the
    probe join (see :data:`LSH_HOT_BUCKET_MAX`): a boilerplate band value
    indexed by 10^5 corpus docs would otherwise multiply every matching
    new doc by 10^5 rows."""
    nb = new_bands.select(
        F.col(id_col).alias("_nid"), "band_idx", "band_hash"
    )
    cb = _prune_hot_buckets(corpus_bands, max_bucket_docs).select(
        F.col(id_col).alias("_cid"), "band_idx", "band_hash"
    )
    return (
        nb.join(cb, ["band_idx", "band_hash"])
        .groupBy("_nid")
        .agg(F.min("_cid").alias("match_id"), F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("_nid").alias(id_col), "match_id", "n_hits")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    num_hashes: int = MINHASH_HASHES,
    bands: int = LSH_BANDS,
    shingles: DataFrame | None = None,
    max_bucket_docs: int | None = LSH_HOT_BUCKET_MAX,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    Linear scan → band table (bands·docs rows) → self-join on
    (band_idx, band_hash). This is the 10^10-scale dedup path; feed the
    output through :func:`ngram_jaccard_pairs` semantics (or exact
    verification) to confirm. Buckets above ``max_bucket_docs`` are
    pruned before the self-join (|bucket|² fan-out bound — see
    :data:`LSH_HOT_BUCKET_MAX`); the DuckDB twin applies the identical
    cap so oracle parity holds even under planted skew."""
    bt = lsh_band_table(df, id_col, text_col, n, num_hashes, bands, shingles=shingles)
    bt = _prune_hot_buckets(bt, max_bucket_docs)
    a = bt.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b2 = bt.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b2, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc SimHash fingerprint (token-occurrence weighted).

    Explode tokens → h64 → per-bit ±1 sums → fingerprint. The groupBy
    carries `bits` partial-agg sums; no window, no Python."""
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", h64(F.col("tok")))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"b{b}") >= 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(F.col(id_col), fp.alias("simhash"))


SIMHASH_HAM_K = 3  # near-dup Hamming radius (Manku et al., WWW 2007)
SIMHASH_HOT_BLOCK_MAX = 1024  # candidate-generation cap per block value


def simhash_neardup_pairs(
    df: DataFrame,
    k: int = SIMHASH_HAM_K,
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block_docs: int = SIMHASH_HOT_BLOCK_MAX,
) -> DataFrame:
    """(id_a, id_b, hamming) for fingerprint pairs within Hamming
    distance ``k`` — the multi-block index of Manku et al. (WWW 2007,
    public): split the ``bits``-bit fingerprint into ``k+1`` blocks; by
    pigeonhole, two fingerprints within distance k agree EXACTLY on at
    least one block, so candidate generation is an equi-join on
    (block_idx, block_value) — never an all-pairs Hamming scan — and
    the true distance is verified with one ``bit_count(xor)`` per
    candidate.

    Hot blocks (a value shared by more than ``max_block_docs``
    fingerprints, e.g. the all-zeros block of near-empty docs) are
    dropped from candidate generation — the same pruning role as the
    hot-shingle cap in :func:`ngram_jaccard_pairs`; pairs agreeing
    ONLY on a hot block are the documented recall trade. ``distinct``
    collapses pairs that collide on several blocks.
    """
    assert bits % (k + 1) == 0, "block width must divide the fingerprint"
    nb = k + 1
    width = bits // nb
    mask = (1 << width) - 1
    fps = simhash(df, id_col, text_col, bits)
    blk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("blk"),
                    F.shiftright(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(nb)
            ]
        )
    )
    t = fps.select(F.col(id_col), "simhash", blk.alias("b")).select(
        id_col, "simhash", "b.blk", "b.val"
    )
    keep = (
        t.groupBy("blk", "val")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= max_block_docs)
        .select("blk", "val")
    )
    t = t.join(keep, ["blk", "val"])
    a = t.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_fa"), "blk", "val"
    )
    b2 = t.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_fb"), "blk", "val"
    )
    ham = F.expr("bit_count(_fa ^ _fb)").cast("int")
    return (
        a.join(b2, ["blk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= k)
        .distinct()
    )


# Containment classification threshold (per-mille). 800 ≈ Broder's
# "roughly contained" bar; pairs whose LARGER containment clears it are
# kept, then classified by which side(s) clear it.
CONTAINMENT_PM = 800


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = NGRAM_N,
    threshold_pm: int = CONTAINMENT_PM,
    shingles: DataFrame | None = None,
    max_bucket_docs: int | None = LSH_HOT_BUCKET_MAX,
) -> DataFrame:
    """Asymmetric near-dup analysis — Broder's CONTAINMENT beside the
    resemblance the Jaccard pass measures ("On the resemblance and
    containment of documents", SEQUENCES 1997, public):
    c(A,B) = |S(A)∩S(B)| / |S(A)|. Resemblance misses partial copies —
    a page quoting 90% of another scores low Jaccard when the quoting
    page is much larger — but containment flags it; this is the
    quote/boilerplate-wrapper/syndication detector a web corpus needs
    beside symmetric dedup (a syndicated article inside a heavy portal
    template is c≈1 one way, Jaccard≈0.3).

    Output: (id_a, id_b, n_common, n_a, n_b, cont_a_pm, cont_b_pm,
    relation) for LSH candidate pairs whose larger containment ≥
    ``threshold_pm`` (integer per-mille, truncating div — engine
    portable). relation: 'near_dup' (both sides clear), 'a_in_b',
    'b_in_a'.

    ``shingles``: an optional precomputed posting list
    (:func:`distinct_shingles` output). The caller must persist it:
    it feeds three consumers (candidate generation, the semi-join and the
    size aggregate), and an unpersisted frame recomputes its explode +
    distinct for each. Only a list built here is persisted here.

    Scale shape: candidates come from the banded LSH index (linear
    scan, hot buckets capped), and the exact intersection join runs
    ONLY over posting lists semi-joined down to docs that appear in
    some candidate pair — O(candidate docs' shingles), never the
    corpus-wide quadratic join. The shingle relation is persisted once
    and feeds the candidate generator, the semi-join, and the size
    aggregate (same factoring as lsh_quality_report). Dedicated
    set-containment-join algorithms (LCJoin, Deng et al. ICDE 2019,
    public — prefix-filter list crosscutting) beat the LSH-prefilter
    shape when EXACT containment over all pairs is required; this
    operator trades their exactness for the banded index the corpus
    already maintains (a recall-bounded, incremental-friendly choice
    documented with the LSH cap)."""
    # Persist the posting list only when WE build it (a caller-supplied
    # shingles frame keeps its caller-managed lifetime), and release it
    # as soon as the bounded pair output is materialized below — the
    # cache must not outlive the call (session-long executor leak).
    own_shingles = shingles is None
    gd = shingles if shingles is not None else distinct_shingles(df, id_col, text_col, n)
    if own_shingles:
        gd = gd.persist()
    cands = minhash_lsh_pairs(
        df, id_col, text_col, n, shingles=gd, max_bucket_docs=max_bucket_docs
    )
    ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    gdc = gd.join(ids, id_col, "left_semi")
    a = gdc.select(F.col(id_col).alias("id_a"), "ng")
    b = gdc.select(F.col(id_col).alias("id_b"), "ng")
    common = (
        a.join(b, "ng")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(cands, ["id_a", "id_b"], "left_semi")
    )
    sizes = gdc.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_ng"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_ng").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_ng").alias("n_b"))
    cont_a = F.expr("n_common * 1000 div n_a")
    cont_b = F.expr("n_common * 1000 div n_b")
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_common", "n_a", "n_b",
            cont_a.alias("cont_a_pm"), cont_b.alias("cont_b_pm"),
        )
        .where(F.greatest("cont_a_pm", "cont_b_pm") >= F.lit(threshold_pm))
    )
    thr = F.lit(threshold_pm)
    relation = (
        F.when((F.col("cont_a_pm") >= thr) & (F.col("cont_b_pm") >= thr), "near_dup")
        .when(F.col("cont_a_pm") >= thr, "a_in_b")
        .otherwise("b_in_a")
    )
    result = out.select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "cont_a_pm", "cont_b_pm",
        relation.alias("relation"),
    )
    if own_shingles:
        # materialize the bounded pair set (LSH-capped, threshold-cut),
        # then drop the posting-list cache — no session-long leak
        result = result.localCheckpoint()
        gd.unpersist()
    return result


def lsh_quality_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row banding-quality report: LSH candidate pairs vs exact
    Jaccard ground truth — (n_true, n_candidates, n_hit, precision_pm,
    recall_pm), integer per-mille.

    The measured answer to "are (num_hashes, bands) tuned right":
    recall says how many true near-dup pairs banding surfaces,
    precision how much verify work the candidates waste. Ground truth
    is the EXACT shingle self-join, so at 10^10 docs this report runs
    on a corpus SAMPLE (the same sampling rule as ann_recall's exact
    side) — the banding parameters it validates then apply corpus-wide.
    """
    # one explode+distinct serves both sides (same factoring as
    # mirrors._host_digests): the posting list is the most expensive
    # intermediate here, so build it once and persist
    gd = distinct_shingles(df, id_col, text_col).persist()
    true_pairs = ngram_jaccard_pairs(df, id_col, text_col, shingles=gd).select(
        "id_a", "id_b", F.lit(1).alias("_t")
    )
    cands = minhash_lsh_pairs(df, id_col, text_col, shingles=gd).select(
        "id_a", "id_b", F.lit(1).alias("_c")
    )
    j = true_pairs.join(cands, ["id_a", "id_b"], "full")
    report = j.agg(
        F.count("_t").alias("n_true"),
        F.count("_c").alias("n_candidates"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_c").isNotNull(), 1)).alias(
            "n_hit"
        ),
    ).select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.expr("CASE WHEN n_candidates > 0 THEN n_hit * 1000 div n_candidates "
               "ELSE 0 END").alias("precision_pm"),
        F.expr("CASE WHEN n_true > 0 THEN n_hit * 1000 div n_true "
               "ELSE 0 END").alias("recall_pm"),
    )
    # 1-row report: materialize it and release the posting-list cache
    # (same lifetime rule as containment_pairs — no session-long leak)
    report = report.localCheckpoint()
    gd.unpersist()
    return report
