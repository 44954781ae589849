"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship classification plan (SURVEY.md §3 EP2,
reference /root/reference/src/warc_processor.py:283-380) over pages
synthesized from the sf0.001 ``documents`` testdata.

``queries()`` maps every SQL-verifiable operator from SURVEY.md §2 plus
the training-data-pipeline tier (dedup / similarity / text analysis)
onto the driver's testdata tables; ``oracle_sql()`` returns the DuckDB
twin of each, generated from shared constants in
crawler_spark/oracle/sqlgen.py so the two sides cannot drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.functions import textstats as TS
from crawler_spark.operators import multimodal as MM
from crawler_spark.operators import similarity as SIM
from crawler_spark.operators import textdedup as TD
from crawler_spark.oracle import sqlgen as SG
from crawler_spark.plans.docpages import pages_from_documents
from crawler_spark.plans.flagship import classify_bulk

TOPK_QUERY_IDS = [0, 1, 2, 3, 4]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------ flagship --


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synth pages from sf0.001 documents → EP2 classification."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return classify_bulk(pages_from_documents(docs), min_confidence="medium")


def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    res = classify_bulk(pages_from_documents(docs), min_confidence="medium")
    # scalar projection for the value-hash (indicators array stays
    # engine-side; its content is pytest-verified against the oracle module)
    return res.select("domain", "url", "schema", "confidence", "build_id", "warc_source")


def _q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink round-trip under the driver oracle (SURVEY §2.2): the full
    classification result set is exported through BOTH reference-parity
    sinks (CSV with the reference column order, JSON lines —
    sources/sinks.py; reference src/warc_processor.py:467-505), read
    back from disk, and projected. A lossy write, a column-order slip,
    or a null/empty round-trip bug shows up as a value-hash mismatch
    against the closed-form oracle (2× flagship rows, tagged per sink).
    The indicators array's content round-trip stays pytest-verified
    (tests/test_sinks_targeted.py) — here it rides through both files
    but is not part of the scalar hash projection."""
    import os
    import tempfile

    from crawler_spark.sources.sinks import write_results_csv, write_results_json

    docs = _t(spark, sf_dir, "documents")
    res = classify_bulk(pages_from_documents(docs), min_confidence="medium")
    base = os.path.join(
        tempfile.gettempdir(),
        "crawler_spark_sink_rt",
        os.path.basename(os.path.normpath(sf_dir)) or "sf",
    )
    write_results_csv(res, base + "/csv", single_file=True)
    write_results_json(res, base + "/json", single_file=True)
    csv_back = spark.read.csv(
        base + "/csv",
        header=True,
        schema=(
            "domain string, url string, schema string, confidence string, "
            "indicators string, build_id string, warc_source string"
        ),
    )
    json_back = spark.read.json(base + "/json")
    cols = ["domain", "url", "schema", "confidence", "build_id", "warc_source"]
    return (
        csv_back.select(*cols)
        .withColumn("sink", F.lit("csv"))
        .unionByName(json_back.select(*cols).withColumn("sink", F.lit("json")))
    )


# ------------------------------------------- relational (SURVEY §2.3-2.6) --


def _q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1 shape: the reference's stats rollup generalized
    (src/warc_processor.py:507-531 counters → grouped aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q_time_range(spark, sf_dir):
    """Time-range predicate + month rollup (CDX from/to bounds,
    reference src/cdx/client.py:98-101)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
            & (F.col("o_orderstatus") == "F")
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def _q_topk_users(spark, sf_dir):
    """Top-k frequency (reference test_warc_domains.py:88-91)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


def _q_first_event_per_user(spark, sf_dir):
    """First-wins dedupe (domain-first-wins,
    reference examples/bulk_warc_search.py:178-188)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def _q_headk_per_group(spark, sf_dir):
    """Per-group head-k sample (the 10 MB WARC head sample recast,
    reference src/warc_processor.py:179-181)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this testdata — the
    # order-by must be a total order for cross-engine determinism
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_shipdate", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        li.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


def _q_anti_join_unseen(spark, sf_dir):
    """Left anti-join — the URL-seen membership check
    (reference src/crawler.py:181-186)."""
    c = _t(spark, sf_dir, "customer")
    e = _t(spark, sf_dir, "events").select(F.col("user_id").alias("c_custkey")).distinct()
    return (
        c.join(e, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_unseen"))
    )


def _q_broadcast_join(spark, sf_dir):
    """Fetch-join against a small dim, broadcast (SURVEY §2.1 WARC record
    fetch ≈ join R2→pages)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


def _q_failure_rollup(spark, sf_dir):
    """Failure-by-reason rollup (reference src/utils/retry_handler.py:156-173)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


def _q_distinct_counts(spark, sf_dir):
    """Global distinct-count stats sets (reference src/warc_processor.py:101-108)."""
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


def _q_avg_per_group(spark, sf_dir):
    """Two-level aggregate: mean per-WARC distinct domains
    (reference test_warc_domains.py:130-137)."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(F.countDistinct("event_type").alias("n_types"))
    return per.agg(
        F.round(F.avg("n_types"), 4).alias("avg_types"),
        F.max("n_types").alias("max_types"),
        F.min("n_types").alias("min_types"),
    )


def _q_merge_runs(spark, sf_dir):
    """Cross-run result merge + unique-by-key
    (reference COMPARISON.md:270-274 `jq -s 'add | unique_by(.domain)'`)."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT")
    b = o.where(F.col("o_totalprice") > 400000)
    u = a.unionByName(b)
    return u.agg(
        F.count("*").alias("n_rows"), F.countDistinct("o_orderkey").alias("n_keys")
    )


def _q_politeness_budget(spark, sf_dir):
    """Per-host politeness budget window: ≤B rows per host per round
    (token bucket recast, reference src/utils/rate_limiter.py:11-78);
    'host' = documents.source."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 5)
        .select("source", "doc_id", "n_chars")
    )


def _q_segment_histogram(spark, sf_dir):
    """Histogram sorted desc (reference examples/find_all_nextjs.py:63-80)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


def _q_content_sniff(spark, sf_dir):
    """Content-sniff predicate shape: substring probe on the body
    (reference src/warc_processor.py:266-271)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.instr(F.substring("text", 1, 200), "table") > 0)
        .groupBy("source")
        .agg(F.count("*").alias("n_hits"))
    )


# ------------------------------------------------ text analysis / dedup --


def _q_dedup_exact(spark, sf_dir):
    return TD.dedup_exact(_t(spark, sf_dir, "documents"))


def _q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        TS.word_count(F.col("text")).alias("n_words"),
        TS.bpe_token_count(F.col("text")).alias("n_tokens"),
    )


def _q_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    feats = TS.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["awl_c"].alias("awl_c"),
        feats["stop_pm"].alias("stop_pm"),
        feats["quality_score_pm"].alias("quality_score_pm"),
        feats["quality_bucket"].alias("quality_bucket"),
    )


def _q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.lang_id(F.col("text")).alias("lang_guess"))


def _q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.where(TS.word_count(F.col("text")) >= TS.FINGERPRINT_NGRAM).select(
        "doc_id",
        TS.fingerprint(F.col("text")).alias("fingerprint"),
        TS.content_md5(F.col("text")).alias("content_md5"),
    )


def _q_ngram_jaccard(spark, sf_dir):
    return TD.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _q_minhash_signatures(spark, sf_dir):
    return TD.minhash_signatures(_t(spark, sf_dir, "documents"))


def _q_minhash_lsh(spark, sf_dir):
    return TD.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _q_dedup_clusters(spark, sf_dir):
    """LSH candidate pairs → connected components → cluster per doc with
    the canonical (min-id) survivor flagged. The full dedup pipeline's
    final stage (operators/components.py)."""
    from crawler_spark.operators.components import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    return dedup_clusters(d, TD.minhash_lsh_pairs(d))


def _q_boilerplate_removal(spark, sf_dir):
    """CCNet/RefinedWeb-style boilerplate stripping: segments recurring
    in >= BOILERPLATE_MIN_DOCS distinct docs are removed from every doc
    (hot set broadcast into a left_anti join — the corpus is never
    shuffled by line)."""
    from crawler_spark.operators.textclean import remove_boilerplate

    return remove_boilerplate(
        _t(spark, sf_dir, "documents"), segments=True
    )


def _q_repetition_stats(spark, sf_dir):
    """Gopher/MassiveText within-doc repetition gates (dup-line and
    top-2-gram shares, integer per-mille) — two-level map-side-combine
    aggregates."""
    from crawler_spark.operators.textclean import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), segments=True)


def _q_decontaminate(spark, sf_dir):
    """GPT-3/PaLM-style benchmark decontamination: per-training-doc
    rolling-8-gram overlap vs a deterministic held-out split, eval gram
    hashes broadcast (operators/decontam.py)."""
    from crawler_spark.operators import decontam as DC

    d = _t(spark, sf_dir, "documents")
    return DC.contamination(DC.train_split(d), DC.eval_split(d))


def _q_pii_scrub(spark, sf_dir):
    """Pre-training PII scrub (emails/phones/SSNs/IPv4 → tokens) as a
    chained JVM regexp_replace — deterministic id-derived PII planted
    per row since the synthetic corpus carries none
    (functions/redact.py)."""
    from crawler_spark.functions import redact as RD

    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        RD.inject_pii_demo(F.col("text"), F.col("doc_id")).alias("t"),
    )
    return t.select(
        "doc_id",
        RD.redact_pii(F.col("t")).alias("scrubbed"),
        RD.pii_count(F.col("t"), "email").alias("n_emails"),
        RD.pii_count(F.col("t"), "phone").alias("n_phones"),
        RD.pii_count(F.col("t"), "ssn").alias("n_ssns"),
        RD.pii_count(F.col("t"), "ipv4").alias("n_ips"),
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic corpus rebalancing: downsample the over-represented
    'en' stratum to 300pm via a salted-hash Bernoulli (map-side literal
    CASE, zero shuffle); per-stratum audit with membership checksums
    (operators/sampling.py)."""
    from crawler_spark.operators import sampling as SP

    return SP.sample_report(
        _t(spark, sf_dir, "documents"), SP.BALANCE_RATES_PM
    )


def _q_simhash(spark, sf_dir):
    return TD.simhash(_t(spark, sf_dir, "documents"))


def _q_lsh_quality(spark, sf_dir):
    """Banding-quality report (operators/textdedup.lsh_quality_report):
    LSH candidates vs exact Jaccard ground truth, precision/recall in
    integer per-mille — the measured tuning answer for
    (num_hashes, bands); ground truth runs on a sample at scale."""
    return TD.lsh_quality_report(_t(spark, sf_dir, "documents"))


def _q_simhash_neardups(spark, sf_dir):
    """SimHash Hamming-radius pair search (operators/textdedup.py,
    Manku et al. WWW 2007): k+1-block pigeonhole equi-join candidate
    generation (never all-pairs), hot-block cap, one bit_count(xor)
    verify per candidate."""
    return TD.simhash_neardup_pairs(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------ similarity --


def _q_cosine_topk(spark, sf_dir):
    return SIM.cosine_topk(_t(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS)


def _q_cosine_neardup(spark, sf_dir):
    return SIM.cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"))


def _q_centroids(spark, sf_dir):
    return SIM.centroids(_t(spark, sf_dir, "embeddings"))


def _q_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN top-k: nearest-centroid cell assignment + nprobe-cell
    exact search (the scale path past LSH bucketing)."""
    return SIM.ivf_topk(_t(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS)


def _q_ann_lsh(spark, sf_dir):
    return SIM.lsh_neardup_pairs(_t(spark, sf_dir, "embeddings"))


def _q_ann_recall(spark, sf_dir):
    """ANN index self-evaluation (operators/similarity.ann_recall):
    recall@k of IVF-Flat vs exact brute-force ground truth on the same
    query set — the measured answer to "is nprobe high enough", scored
    in integer per-mille. At corpus scale ground truth runs on a query
    sample only."""
    return SIM.ann_recall(_t(spark, sf_dir, "embeddings"), TOPK_QUERY_IDS)


# ---------------------------------------------------------- EP1 targeted --

CDX_FROM_TS = "20260101000100"  # doc_id >= 60
CDX_TO_TS = "20260101001500"  # doc_id <= 900
PER_DOMAIN_K = 3


def _q_cdx_domain_select(spark, sf_dir):
    """CDX targeted select: matchType=domain + status + time-range
    predicates over the SURT-keyed index (reference src/cdx/client.py:54-146)."""
    from crawler_spark.plans.targeted import cdx_from_pages, cdx_search

    cdx = cdx_from_pages(pages_from_documents(_t(spark, sf_dir, "documents")))
    return cdx_search(
        cdx, "example.com", "domain", 200, CDX_FROM_TS, CDX_TO_TS
    ).select("urlkey", "ts", "url", "status", "filename")


def _q_per_domain_headk(spark, sf_dir):
    """Per-domain outer loop as ONE query: seeds ⋈ cdx + per-host window
    (reference src/crawler.py:205-242 recast, SURVEY §2.8)."""
    from crawler_spark.plans.targeted import per_domain_search

    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    domains = docs.select(
        F.concat("source", F.lit(".example.com")).alias("domain")
    ).distinct()
    return per_domain_search(pages, domains, limit_per_domain=PER_DOMAIN_K)


def _q_targeted_classify(spark, sf_dir):
    """EP1 end-to-end: CDX select → fetch-join → detector → global dedupe."""
    from crawler_spark.plans.targeted import targeted_search

    pages = pages_from_documents(_t(spark, sf_dir, "documents"))
    res = targeted_search(
        pages, "example.com", "domain", 200, from_ts=CDX_FROM_TS, min_confidence="medium"
    )
    return res.select(
        "domain", "url", "schema", "confidence", "build_id", "warc_source",
        "detected_at", "crawl_date",
    )


# ------------------------------------------------------------ multimodal --

MEDIA_FRAME_EVERY_K = 10
MEDIA_RESIZE_MAX_SIDE = 256


def _media(spark, sf_dir):
    from crawler_spark.sources.media import media_from_documents

    return media_from_documents(_t(spark, sf_dir, "documents").select("doc_id"))


def _q_media_features(spark, sf_dir):
    """Binary media decode: encode→shuffle→byte-parse round-trip
    (mapInPandas, Arrow-batched; fake container, real plumbing)."""
    return MM.decode_features(_media(spark, sf_dir)).withColumn(
        "duration_s", F.round("duration_s", 4)
    )


def _q_media_frames(spark, sf_dir):
    """Video frame sampling — UDTF shape (one blob → many frame rows)."""
    return MM.frame_sample(_media(spark, sf_dir), every_k=MEDIA_FRAME_EVERY_K)


def _q_media_resize(spark, sf_dir):
    """Image resize geometry (letterbox scale), mapInPandas stage."""
    return MM.resize_plan(_media(spark, sf_dir), max_side=MEDIA_RESIZE_MAX_SIDE).withColumn(
        "scale", F.round("scale", 6)
    )


def _q_media_stats(spark, sf_dir):
    """Per-modality rollup over decoded features."""
    return MM.media_type_stats(MM.decode_features(_media(spark, sf_dir)))


# ------------------------------------------------- rows-only engine demos --


def _q_cdx_latest_index(spark, sf_dir):
    """Index-of-indexes scan: catalog of available crawls → newest id
    (reference src/cdx/client.py:32-52). The corpus splits into 5
    synthetic monthly crawls keyed on doc_id."""
    from crawler_spark.plans.targeted import crawl_catalog, latest_index

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("CC-MAIN-2026-"),
            F.lpad(((F.col("doc_id") % 5) + 1).cast("string"), 2, "0"),
        ).alias("crawl_id"),
        F.expr(
            "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
    )
    return latest_index(crawl_catalog(pages, crawl_col=F.col("crawl_id")))


def _q_warc_ingest(spark, sf_dir):
    """Raw WARC-bytes ingest round trip: documents → member-gzip WARC
    blobs (every 5th truncated mid-record) → tolerant pure-Python reader
    in one mapInPandas stage → verification projection (oracle recomputes
    survivors + text md5 in closed form)."""
    from crawler_spark.sources.warc import warc_ingest_from_documents

    return warc_ingest_from_documents(_t(spark, sf_dir, "documents"))


def _q_warc_ingest_targeted(spark, sf_dir):
    """Targeted (point-lookup) WARC ingest: header-charset decode rule
    across four Content-Type shapes + head-sample max_bytes slice that
    drops blobs whose first record is cut (oracle recomputes survivors
    closed-form)."""
    from crawler_spark.sources.warc import warc_ingest_targeted_from_documents

    return warc_ingest_targeted_from_documents(_t(spark, sf_dir, "documents"))


def _q_text_chunks(spark, sf_dir):
    """Sliding-window chunking (operators/chunking.py — the
    retrieval/embedding preprocessor): overlapping word windows with
    offset bookkeeping, a pure map stage (sequence+transform+posexplode,
    no shuffle); the oracle re-slices the word array closed-form."""
    from crawler_spark.operators.chunking import chunk_text

    return chunk_text(_t(spark, sf_dir, "documents"))


def _q_url_param_strip(spark, sf_dir):
    """Tracking-parameter strip (functions/url.strip_tracking_params —
    the pywb/Heritrix canonicalization rule): utm/click-id/session
    params removed, order of the surviving params preserved, an
    all-tracking query loses its '?'. Pure JVM split/filter/rejoin;
    oracle rebuilds each stripped URL closed-form from m = doc_id % 4."""
    from crawler_spark.functions.url import strip_tracking_params

    d = _t(spark, sf_dir, "documents")
    gs = (F.col("doc_id") % 50).cast("string")
    ids = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = F.concat(
        F.lit("https://site"), gs, F.lit(".example.com/p/"), ids,
        F.when(m == 0, F.concat(F.lit("?utm_source=x&id="), ids, F.lit("&fbclid=a&b=2")))
        .when(m == 1, F.lit("?utm_campaign=c"))
        .when(m == 2, F.concat(F.lit("?id="), ids))
        .otherwise(F.lit("")),
    )
    s = strip_tracking_params(url)
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        url.alias("url"),
        s["url"].alias("stripped"),
        s["n_stripped"].alias("n_stripped"),
    )


def _q_warc_outlinks(spark, sf_dir):
    """Archive bytes → frontier feed (sources/warc.py + functions/
    links.py): WARC blobs with anchor-carrying HTML bodies are read by
    the tolerant reader, bulk-decoded, href-harvested and RFC
    3986-resolved — truncated blobs must NOT contribute their cut
    record's links. Oracle recomputes the two resolved links per
    surviving record closed-form."""
    from crawler_spark.sources.warc import warc_outlinks_from_documents

    return warc_outlinks_from_documents(_t(spark, sf_dir, "documents"))


def _q_corpus_classify(spark, sf_dir):
    """Full crawl-corpus flagship on the synthetic generator. Oracled by a
    constant fixture derived from the row-at-a-time reference decode +
    detector (tools/gen_corpus_fixture.py; re-derived in tests)."""
    from crawler_spark.oracle.sqlgen import CORPUS_CLASSIFY_N_PAGES
    from crawler_spark.sources.corpus import generate_pages

    pages = generate_pages(spark, CORPUS_CLASSIFY_N_PAGES, partitions=8)
    res = classify_bulk(pages, min_confidence="medium")
    return res.groupBy("confidence").agg(F.count("*").alias("n"))


def _q_outlink_extract(spark, sf_dir):
    """Outlink extraction (functions/links.py): synthetic anchor-tag
    HTML per document exercises absolute-path, dot-segment (../),
    relative-path, protocol-relative, query-only and mailto refs —
    the Spark side genuinely regexp-harvests hrefs and resolves them
    per RFC 3986 (one JVM fold per ref, no UDF, pure map stage); the
    oracle reconstructs each resolved URL closed-form."""
    from crawler_spark.functions.links import outlinks

    d = _t(spark, sf_dir, "documents")
    gs = (F.col("doc_id") % 50).cast("string")
    ids = F.col("doc_id").cast("string")
    pages = d.select(
        F.concat(
            F.lit("https://site"), gs, F.lit(".example.com/a/b/page"),
            ids, F.lit(".html"),
        ).alias("url"),
        F.concat(
            F.lit('<p><a href="/root'), gs, F.lit('.html">r</a>'),
            F.lit("<A HREF='../up"), ids, F.lit(".html'>u</A>"),
            F.lit("<a class=x href=rel/deep.html>d</a>"),
            F.lit('<a href="//cdn'), gs, F.lit('.example.net/x">c</a>'),
            F.lit('<a href="mailto:x@y">m</a>'),
            F.lit('<a href="?q='), ids, F.lit('">q</a></p>'),
        ).alias("html"),
    )
    return outlinks(pages)


def _q_nofollow_outlinks(spark, sf_dir):
    """Crawl directives (functions/directives.py): meta-robots
    noindex/nofollow and per-anchor rel=nofollow decide what enters the
    frontier and the results — synthetic pages cycle through plain,
    meta-nofollow, link-nofollow and meta-noindex shapes (m = doc_id %
    4), all regexp/array JVM expressions; the oracle derives each
    page's verdict and follow-count arithmetically."""
    from crawler_spark.functions.directives import extract_links, meta_robots

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    html = (
        F.when(m == 1, F.lit('<meta name="robots" content="nofollow">'))
        .when(m == 3, F.lit("<meta content='noindex' name='robots'>"))
        .otherwise(F.lit(""))
    )
    links = (
        F.when(
            m == 2,
            F.lit('<a href="/keep">k</a><a rel="nofollow" href="/skip">s</a>'),
        )
        .otherwise(F.lit('<a href="/one">1</a><a href="/two">2</a>'))
    )
    pages = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("<html><head>"), html, F.lit("</head><body>"),
                 links, F.lit("</body></html>")).alias("html"),
    )
    mr = meta_robots(F.col("html"))
    lk = extract_links(F.col("html"))
    n_follow = F.filter(lk, lambda s: ~s["nofollow"])
    return pages.select(
        "doc_id",
        mr["noindex"].alias("noindex"),
        mr["nofollow"].alias("page_nofollow"),
        F.size(lk).cast("long").alias("n_links"),
        F.when(mr["nofollow"], F.lit(0))
        .otherwise(F.size(n_follow))
        .cast("long")
        .alias("n_follow"),
    )


def _q_canonical_cluster(spark, sf_dir):
    """rel=canonical duplicate clustering (functions/directives.py +
    links.resolve_ref): even docs advertise a shared per-group
    canonical (resolved from a root-relative href), odd docs are
    self-canonical — clusters = one shared group per g plus
    singletons; one groupBy on the resolved canonical (partial agg,
    min_by representative)."""
    from crawler_spark.functions.directives import canonical_href
    from crawler_spark.functions.links import resolve_ref

    d = _t(spark, sf_dir, "documents")
    gs = (F.col("doc_id") % 50).cast("string")
    url = F.concat(
        F.lit("https://site"), gs, F.lit(".example.com/v/"),
        F.col("doc_id").cast("string"), F.lit("?utm=x"),
    )
    html = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<link rel="canonical" href="/page'), gs, F.lit('">')),
    ).otherwise(F.lit("<p>self-canonical</p>"))
    pages = d.select(url.alias("url"), html.alias("html"))
    canon = F.coalesce(
        resolve_ref(F.col("url"), canonical_href(F.col("html"))), F.col("url")
    )
    return (
        pages.select(canon.alias("canonical"), "url")
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("url").alias("representative"),
        )
    )


def _q_mirror_detect(spark, sf_dir):
    """Mirror-site detection (operators/mirrors.py): even docs are
    replicated onto a mirror{g} host, so every (mirror{g}, site{g})
    pair shares exactly the even digests — containment 1000 pm of the
    smaller host. Hot-digest cap bounds the self-join fan-out; totals
    broadcast back; all integers."""
    from crawler_spark.operators.mirrors import mirror_report

    d = _t(spark, sf_dir, "documents")
    gs = (F.col("doc_id") % 50).cast("string")
    site = d.select(
        F.concat(F.lit("site"), gs, F.lit(".example.com")).alias("host"),
        F.md5("text").alias("digest"),
    )
    mirror = d.where(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("mirror"), gs, F.lit(".example.com")).alias("host"),
        F.md5("text").alias("digest"),
    )
    return mirror_report(site.unionByName(mirror))


def _q_dsir_select(spark, sf_dir):
    """DSIR-shaped importance selection (operators/dsir.py, Xie et al.
    NeurIPS 2023): hashed-bigram target/raw ratio model — 4096-bucket
    partial agg with the target flag riding the explode (no doc join),
    weights BROADCAST onto the occurrence stream (corpus never shuffles
    by feature), per-doc rollup the only corpus-sized shuffle; keep cut
    at the exact corpus score quantile (quantile_cont-parity)."""
    from crawler_spark.operators.dsir import dsir_select

    return dsir_select(_t(spark, sf_dir, "documents"))


def _q_fetch_timetable(spark, sf_dir):
    """Per-host fetch timetable (operators/politeness.schedule_fetches):
    the token bucket compiled into explicit dispatch timestamps — slot k
    of a host fetches at k·crawl_delay. One window on the same (host)
    partitioning the admission pass shuffled by; delays are exact
    binary fractions (multiples of 0.5 s) so the ms arithmetic is
    bit-stable across engines, with a NULL-delay case exercising the
    default."""
    from crawler_spark.operators.politeness import schedule_fetches

    d = _t(spark, sf_dir, "documents")
    g = F.col("doc_id") % 50
    gs = g.cast("string")
    cands = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("site"), gs, F.lit(".example.com")).alias("host"),
        (F.col("doc_id") % 5).cast("int").alias("priority"),
        F.concat(
            F.lit("com,example,site"), gs, F.lit(")/p/"),
            F.col("doc_id").cast("string"),
        ).alias("surt"),
        F.when(g % 4 == 3, F.lit(None).cast("double"))
        .otherwise((g % 4).cast("double") * 0.5)
        .alias("crawl_delay"),
    )
    return schedule_fetches(cands).select(
        "doc_id", "host", "slot", "scheduled_ms"
    )


def _q_politeness_equivalence(spark, sf_dir):
    """The politeness budget↔multiset equivalence artifact (SURVEY §7
    hard-part 5; VERDICT r4 item 8): the reference's blocking token
    bucket (rate=2.0/s, burst=5 — reference config.py:11-12, consumed
    by src/utils/rate_limiter.py:11-78) maps to the per-round budget
    B = burst + rate·round_duration; the admitted MULTISET per round
    is then closed-form — URL with per-host rank r (priority desc,
    surt asc) is admitted in round ceil(r/B). The Spark side proves
    it by actually running the iterative admit loop (admit_per_host,
    deferred feeding the next round; round 1 pins the skew-salting
    phase on so the two-phase top-k path is exercised) for 4 rounds;
    the oracle derives every round arithmetically from the rank.
    round_admitted = 0 marks URLs still deferred after 4 rounds."""
    from crawler_spark.config import PolitenessConfig
    from crawler_spark.operators.politeness import admit_per_host

    # 7 hosts x ~doc_count/7 URLs: several rounds deep at B = 9
    bcfg = PolitenessConfig(round_duration_s=2.0)  # 5 + 2.0*2.0 = 9
    b = bcfg.budget_per_round
    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 7).cast("string")
    cands = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("site"), g, F.lit(".example.com")).alias("host"),
        (F.col("doc_id") % 5).cast("int").alias("priority"),
        F.concat(
            F.lit("com,example,site"), g, F.lit(")/p/"),
            F.col("doc_id").cast("string"),
        ).alias("surt"),
    )
    remaining = cands
    parts = []
    for rnd in range(1, 5):
        res = admit_per_host(remaining, budget=b, force_salting=(rnd == 1))
        parts.append(
            res.admitted.withColumn("round_admitted", F.lit(rnd).cast("int"))
        )
        remaining = res.deferred
    parts.append(remaining.withColumn("round_admitted", F.lit(0).cast("int")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("doc_id", "host", "round_admitted")


def _q_robots_wildcard(spark, sf_dir):
    """RFC 9309 wildcard robots gate (functions/robots_parse.py
    parse_robots_rules + operators/robots.gate_rfc9309): bodies carry a
    non-applicable googlebot group plus a ``*`` group with ``*``/``$``
    patterns and Allow/Disallow precedence cases; paths are a
    closed-form function of m = doc_id % 6 hitting no-match, wildcard
    block, longest-match allow, length-tie allow, $-anchor block and
    $-anchor miss — the oracle derives every verdict arithmetically
    while the Spark side genuinely parses and pattern-matches."""
    from crawler_spark.functions.robots_parse import robots_rules_from_bodies
    from crawler_spark.operators.robots import gate_rfc9309

    d = _t(spark, sf_dir, "documents")
    g = F.col("g")
    gs = g.cast("string")
    hosts = (
        d.select((F.col("doc_id") % 50).alias("g"))
        .distinct()
        .select(
            F.concat(F.lit("site"), gs, F.lit(".example.com")).alias("host"),
            F.concat(
                F.lit(
                    "User-agent: googlebot\nDisallow: /\n\n"
                    "User-agent: *\nDisallow: /private*\nAllow: /private/ok$\n"
                    "Disallow: /tmp/\nAllow: /t*p/\nDisallow: /g"
                ),
                gs,
                F.lit("$\n"),
            ).alias("robots_txt"),
        )
    )
    m = F.col("doc_id") % 6
    mg = (F.col("doc_id") % 50).cast("string")
    cands = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(F.lit("site"), mg, F.lit(".example.com")).alias("host"),
        F.when(m == 0, F.lit("/public/x"))
        .when(m == 1, F.lit("/private/x"))
        .when(m == 2, F.lit("/private/ok"))
        .when(m == 3, F.lit("/tmp/a"))
        .when(m == 4, F.concat(F.lit("/g"), mg))
        .otherwise(F.concat(F.lit("/g"), mg, F.lit("x")))
        .alias("path"),
    )
    return gate_rfc9309(cands, robots_rules_from_bodies(hosts)).select(
        "doc_id", "host", "path", "allowed", "rule"
    )


def _q_span_dedup(spark, sf_dir):
    """Exact duplicated-span removal (operators/spandedup.py): rewrite
    every document with non-canonical duplicated K-word windows stripped
    (Lee et al. 2021 ExactSubstr, word-window variant). The oracle
    recomputes occurrences, canonical keeps, covered positions, and the
    rebuilt text md5 in pure SQL."""
    from crawler_spark.operators.spandedup import remove_duplicated_spans

    return remove_duplicated_spans(_t(spark, sf_dir, "documents"))


def _q_linkgraph_pagerank(spark, sf_dir):
    """Crawl-frontier prioritization: integer fixed-point PageRank over
    an arithmetic link graph on the documents table (OPIC/PageRank
    frontier ordering — the priority tier the reference's BFS scheduler
    lacks, operators/linkgraph.py). Exact integer updates make the
    5-iteration power loop bit-identical to the unrolled-CTE oracle."""
    from crawler_spark.operators.linkgraph import pagerank_over_documents

    return pagerank_over_documents(_t(spark, sf_dir, "documents"))


def _q_sequence_pack(spark, sf_dir):
    """Pretraining concat-and-chunk packing layout: every doc's token
    offset / example span in EOS-joined fixed-length training sequences
    (operators/packing.py) — one shuffle on the shard key, integer
    window arithmetic, no Python."""
    from crawler_spark.operators.packing import pack_layout

    return pack_layout(_t(spark, sf_dir, "documents"))


def _q_tfidf_top_terms(spark, sf_dir):
    """Per-source characteristic vocabulary: TF-IDF top-k with a
    log-free integer idf surrogate (operators/termstats.py) — explode →
    two partial-agg group-bys → term equi-join → bounded per-source
    window."""
    from crawler_spark.operators.termstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


def _q_ngram_lm_counts(spark, sf_dir):
    """Distributed n-gram LM sufficient statistics (Brants et al. 2007
    shape, operators/ngramlm.py): per-order explode → partial-agg
    count → tail prune BEFORE the backoff-context equi-join; exact
    integer per-mille relative frequencies."""
    from crawler_spark.operators.ngramlm import ngram_lm_counts

    return ngram_lm_counts(_t(spark, sf_dir, "documents"))


def _q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters (operators/sketches.py): d×w
    bounded-memory counter table via one partial-agg groupBy, broadcast
    point-queries, exact-count self-evaluation column — the sketch is
    rebuilt counter-for-counter by the DuckDB twin (portable seeded
    md5 row hashes)."""
    from crawler_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf_dir, "events"))


def _q_hashed_quality(spark, sf_dir):
    """Hashed-feature linear quality scorer (fastText/CCNet filter
    shape, operators/qualitylinear.py): hashing-trick bucket ids in
    whole-stage codegen, the weight table (deterministic stand-in for
    a learned artifact) broadcast-joined, one per-doc partial agg."""
    from crawler_spark.operators.qualitylinear import (
        hashed_quality_scores,
        quality_weights,
    )

    return hashed_quality_scores(
        _t(spark, sf_dir, "documents"), quality_weights(spark)
    )


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (operators/hll.py): per-group
    register table via one partial agg (≤ m rows per group whatever the
    input size), exact-int64 harmonic fold, raw estimate + exact
    distinct as the self-evaluation column — register-for-register
    reproducible in the DuckDB twin (portable md5 + bin() rank)."""
    from crawler_spark.operators.hll import hll_distinct_report

    return hll_distinct_report(_t(spark, sf_dir, "events"))


def _q_bucketed_join(spark, sf_dir):
    """Storage-bucketed co-located join (the 100 TB join strategy the
    README's scale playbook prescribes): customer and orders round-trip
    through ``bucketBy(8, custkey).sortBy(custkey)`` tables, then a
    merge-hinted equi-join + per-customer rollup runs with ZERO shuffle
    exchanges — both the join and the groupBy reuse the on-disk hash
    layout (tests/test_bucketed_join.py asserts no Exchange in the
    plan). Values must match the plain DuckDB join on the original
    parquet, so the bucketed write is also a lossless round-trip."""
    import os
    import tempfile

    tag = (os.path.basename(os.path.normpath(sf_dir)) or "sf").replace(
        ".", "_"
    )
    base = os.path.join(tempfile.gettempdir(), "crawler_spark_buckets", tag)
    specs = {
        "customer": ("c_custkey", ["c_custkey", "c_name"]),
        "orders": ("o_custkey", ["o_custkey", "o_totalprice"]),
    }
    for t, (key, cols) in specs.items():
        name = f"cs_bkt_{t}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            _t(spark, sf_dir, t)
            .select(*cols)
            .write.mode("overwrite")
            .option("path", os.path.join(base, t))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    cust = spark.table(f"cs_bkt_customer_{tag}")
    orders = spark.table(f"cs_bkt_orders_{tag}")
    return (
        cust.hint("merge")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            "c_name",
            "order_cnt",
            "total_price",
        )
    )


def _q_inverted_index(spark, sf_dir):
    """Inverted-index build (operators/invindex.py): token stream →
    unique (term, doc) partial agg → exact df/cnt, posting-list head
    via a salted two-phase min-K so a stopword's ~corpus-sized doc set
    never funnels through one task — output byte-identical to the
    direct min-K the DuckDB twin runs.

    Driver projection is scalar-only (same rule as quantize_embeddings,
    VERDICT r4 item 2): the harness canonicalizer cannot sort an
    array<bigint> column, so postings_head is emitted as a CSV string;
    the raw array form stays under pytest (tests/test_invindex.py)."""
    from crawler_spark.operators.invindex import inverted_index

    idx = inverted_index(_t(spark, sf_dir, "documents"))
    return idx.select(
        "term",
        "df",
        "cnt",
        F.concat_ws(
            ",", F.transform("postings_head", lambda d: d.cast("string"))
        ).alias("postings_csv"),
    )


def _q_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval (operators/retrieval.py): exact-integer
    Okapi scoring over the tokenized corpus for a constant query bag —
    two partial aggs + broadcast df/totals, TakeOrdered top-k."""
    from crawler_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"))


def _q_priority_sample(spark, sf_dir):
    """Priority sampling (operators/sampling.priority_sample, Duffield
    et al. 2007): weighted k-sample with the unbiased max(w, τ)
    subset-sum estimator — portable seeded-md5 uniforms, exact int64
    per-mille priorities, per-partition heap top-(k+1)."""
    from crawler_spark.operators.sampling import priority_sample

    return priority_sample(_t(spark, sf_dir, "documents"))


def _q_fair_budget(spark, sf_dir):
    """Max-min fair crawl-budget allocation (operators/fairshare.py):
    integer water-filling over per-host pending demand ('host' =
    doc_id % 97 buckets), lexicographic remainder +1s — distinct-level
    cumsum, two driver scalars, broadcast bonus semi-join."""
    from crawler_spark.operators.fairshare import fair_budget

    d = _t(spark, sf_dir, "documents")
    hosts = d.groupBy(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string")).alias(
            "host"
        )
    ).agg(F.count(F.lit(1)).alias("demand"))
    return fair_budget(hosts)


def _q_split_assign(spark, sf_dir):
    """Leak-free train/val/test split (operators/sampling.grouped_split
    + split_report): every host lands wholly in one split (the
    group-aware assignment that keeps templated near-dups from
    straddling train/eval), audited per split."""
    from crawler_spark.operators.sampling import split_report

    d = _t(spark, sf_dir, "documents").withColumn(
        "host",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string")),
    )
    return split_report(d, "host")


def _q_pad_plan(spark, sf_dir):
    """Padding-bucket plan (operators/packing.pad_plan): per
    power-of-two length bucket, the exact ‰ compute a pad-to-bucket-max
    loader wastes on this corpus — one map + one partial agg."""
    from crawler_spark.operators.packing import pad_plan

    return pad_plan(_t(spark, sf_dir, "documents"))


def _q_bpe_pair_counts(spark, sf_dir):
    """BPE first-merge statistics (operators/termstats.bpe_pair_counts,
    Sennrich et al. 2016): corpus-wide adjacent character-pair counts
    within words, top merge candidates — one map + one partial agg +
    TakeOrdered, the per-round plan of distributed tokenizer training."""
    from crawler_spark.operators.termstats import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"))


def _q_bpe_merge_round(spark, sf_dir):
    """BPE round TWO (operators/termstats.bpe_merge_round): apply the
    corpus's #1 merge greedily (replace() — leftmost non-overlapping in
    both engines) and re-count adjacent symbol pairs — the iterated
    step that makes tokenizer training a loop, same one-broadcast +
    map + partial-agg plan per round."""
    from crawler_spark.operators.termstats import bpe_merge_round

    return bpe_merge_round(_t(spark, sf_dir, "documents"))


def _q_community_labels(spark, sf_dir):
    """Label-propagation communities (operators/communities, Raghavan
    et al. 2007): synchronous majority-label rounds over the link
    graph, argmax by (count, min label) — per-community budget caps are
    the anti-link-farm lever per-host caps miss; two partial-agg
    shuffles per round, lineage truncated like the pagerank loop."""
    from crawler_spark.operators.communities import communities_over_documents

    return communities_over_documents(_t(spark, sf_dir, "documents"))


def _q_data_card(spark, sf_dir):
    """Corpus data card (operators/datacard): document and token shares
    per language × quality bucket — the composition table every
    training-data release ships (Datasheets for Datasets, CACM 2021).
    One partial-agg pass + a 1-row broadcast total, pure JVM text
    expressions."""
    from crawler_spark.operators.datacard import corpus_data_card

    return corpus_data_card(_t(spark, sf_dir, "documents"))


def _q_pq_encode(spark, sf_dir):
    """Product quantization (operators/similarity.pq_encode, Jégou et
    al. TPAMI 2011 / faiss PQ): M=4 sub-codebooks from a deterministic
    seeded-md5 sample, per-subspace argmin as array_min(struct(d², code))
    — a ZERO-SHUFFLE map over the corpus after one bounded K-row
    collect; 64 float32 → 4 codes, the RAM step that makes 10^9-vector
    ANN fit."""
    from crawler_spark.operators.similarity import pq_encode

    return pq_encode(_t(spark, sf_dir, "embeddings"))


def _q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities (operators/linkgraph.hits, Kleinberg
    1999): integer L1-normalized mutual reinforcement over the
    arithmetic link graph — authorities say what to KEEP, hubs what to
    EXPAND; bit-identical to the unrolled-CTE oracle."""
    from crawler_spark.operators.linkgraph import hits_over_documents

    return hits_over_documents(_t(spark, sf_dir, "documents"))


def _q_hll_union_rollup(spark, sf_dir):
    """HLL sketch-union rollup (operators/hll.hll_union_report):
    per-group register tables merge into the global sketch via one
    max(rho) per bucket — the no-rescan rollup property that makes the
    sketch the 100 TB answer; exact global + naive per-group sum ride
    along as self-evaluation."""
    from crawler_spark.operators.hll import hll_union_report

    return hll_union_report(_t(spark, sf_dir, "events"))


def _q_recrawl_report(spark, sf_dir):
    """Incremental-crawl change detection: full-outer url-hash diff of
    two deterministic synthetic crawl rounds → per-host change-rate
    revisit signal (operators/snapshotdiff.py)."""
    from crawler_spark.operators.snapshotdiff import (
        recrawl_report,
        snapshot_diff,
        synth_snapshots,
    )

    prev, curr = synth_snapshots(_t(spark, sf_dir, "documents"))
    return recrawl_report(snapshot_diff(prev, curr))


def _q_sessionize(spark, sf_dir):
    """Gap-based fetch-session reconstruction over the event log
    (operators/sessionize.py): batch twin of the streaming session
    window — one shuffle, shared sort for both windows, integer
    epoch-microsecond arithmetic."""
    from crawler_spark.operators.sessionize import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


def _q_lm_familiarity(spark, sf_dir):
    """CCNet-shaped two-pass quality bucketing: corpus-trained bigram
    familiarity → head/middle/tail at frozen thresholds
    (operators/lmscore.py) — integer-exact stand-in for KenLM
    perplexity, same pipeline shape."""
    from crawler_spark.operators.lmscore import lm_familiarity

    return lm_familiarity(_t(spark, sf_dir, "documents"))


def _q_robots_rules(spark, sf_dir):
    """robots.txt parsing (functions/robots_parse.py): bodies are a
    closed-form function of g = doc_id % 50 covering three shapes — a
    host with no ``*`` group, a CRLF+inline-comment+colon-in-value body,
    and a multi-group body with an ignored non-numeric Crawl-delay — so
    the oracle recomputes the expected rules arithmetically."""
    from crawler_spark.functions.robots_parse import robots_from_bodies

    g = F.col("g")
    gs = g.cast("string")
    body_a = F.lit("User-agent: googlebot\nDisallow: /goog-only\n")
    body_b = F.concat(
        F.lit("USER-AGENT: *\r\nDISALLOW: /a:"), gs,
        F.lit("  # inline comment\r\nCrawl-Delay: "),
        (g % 7).cast("string"), F.lit(".5\r\n"),
    )
    body_c = F.concat(
        F.lit("User-agent: googlebot\nDisallow: /g\n\n"
              "User-agent: *\nDisallow: /admin\nDisallow: /p"), gs,
        F.lit("\nCrawl-delay: soon\nCrawl-delay: "), (g % 9).cast("string"),
    )
    hosts = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 50).alias("g"))
        .distinct()
        .select(
            F.concat(F.lit("site"), gs, F.lit(".example.com")).alias("host"),
            F.when(g % 5 == 0, body_a)
            .when(g % 3 == 0, body_b)
            .otherwise(body_c)
            .alias("robots_txt"),
        )
    )
    return robots_from_bodies(hosts).select(
        "host",
        F.size("disallow_prefixes").cast("long").alias("n_rules"),
        F.array_join("disallow_prefixes", ",").alias("rules"),
        "crawl_delay",
    )


CDX_CLOSEST_TS = "20260101013000"
CDX_COLLAPSE_DIGITS = 8  # collapse=timestamp:8 → one capture per day


def _q_snapshot_asof(spark, sf_dir):
    """Point-in-time replay over a multi-capture store
    (operators/asof.py): union-merge as-of join — one shuffle on url,
    per-key time sort shared with the running last(ignorenulls); DuckDB's
    native ASOF JOIN is the oracle."""
    from crawler_spark.operators.asof import asof_join, synth_captures, synth_probes

    docs = _t(spark, sf_dir, "documents")
    return asof_join(synth_probes(docs), synth_captures(docs))


def _q_cdx_closest(spark, sf_dir):
    """CDX ``closest``-timestamp selection (operators/asof.py): per-urlkey
    min_by with a struct ordering key — map-side combine, one shuffle,
    no window; ties go to the earlier capture."""
    from crawler_spark.functions.url import canonicalize_udf
    from crawler_spark.operators.asof import cdx_closest, synth_captures

    cdx = synth_captures(_t(spark, sf_dir, "documents")).select(
        canonicalize_udf(F.col("url"))["surt"].alias("urlkey"),
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts"),
        "url",
        "digest",
    )
    return cdx_closest(cdx, CDX_CLOSEST_TS)


def _collapse_cdx(spark, sf_dir, digest_k=None):
    """The R1 CDX projection of the closed-form capture store (shared
    by the two collapse queries)."""
    from crawler_spark.functions.url import canonicalize_udf
    from crawler_spark.operators.asof import synth_captures

    return synth_captures(_t(spark, sf_dir, "documents"), digest_k=digest_k).select(
        canonicalize_udf(F.col("url"))["surt"].alias("urlkey"),
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts"),
        "url",
        "digest",
    )


def _q_cdx_collapse_digest(spark, sf_dir):
    """CDX ``collapse=digest`` (operators/cdxcollapse.py — pywb/CC
    index-server capture thinning the reference's client never passes):
    adjacent same-digest captures per urlkey are dropped via ONE lag
    window keyed on urlkey (per-URL groups — skew-free). Even docs'
    k=1 capture repeats the k=0 digest (CDX_COLLAPSE_DK twin), so the
    collapse provably removes rows."""
    from crawler_spark.operators.cdxcollapse import collapse_digest

    dk = (
        F.when((F.col("doc_id") % 2 == 0) & (F.col("k") == 1), F.lit(0))
        .otherwise(F.col("k"))
    )
    return collapse_digest(_collapse_cdx(spark, sf_dir, digest_k=dk))


def _q_cdx_collapse_time(spark, sf_dir):
    """CDX ``collapse=timestamp:8`` (operators/cdxcollapse.py): one
    capture per urlkey per day — NO window: the prefix is monotone in
    ts, so adjacent-first ≡ min_by per (urlkey, prefix), a partial
    aggregate with map-side combine."""
    from crawler_spark.operators.cdxcollapse import collapse_timestamp

    return collapse_timestamp(_collapse_cdx(spark, sf_dir), CDX_COLLAPSE_DIGITS)


def _q_crawl_rollup(spark, sf_dir):
    """Fleet crawl dashboard in ONE pass (operators/crawlreport.py):
    ROLLUP(host, status) plans as a single Expand → partial-agg group-by
    — every granularity (host×status, host, grand total) without a
    self-union or rescan; GROUPING-derived level disambiguates subtotal
    rows."""
    from crawler_spark.operators.crawlreport import crawl_rollup, synth_page_stats

    return crawl_rollup(synth_page_stats(_t(spark, sf_dir, "documents")))


def _q_latency_quantiles(spark, sf_dir):
    """Tail-latency SLO report (operators/crawlreport.py): exact
    linear-interpolation percentiles per event type — bit-identical to
    DuckDB quantile_cont; swap to percentile_approx past ~10^8 rows per
    group with the same schema."""
    from crawler_spark.operators.crawlreport import latency_quantiles

    return latency_quantiles(_t(spark, sf_dir, "events"))


def _q_recrawl_schedule(spark, sf_dir):
    """Change detection closed into the next round's work list
    (operators/snapshotdiff.py): per-host change rate broadcast back
    onto the diff, integer priority, per-host top-budget window —
    bounded output like the politeness budget."""
    from crawler_spark.operators.snapshotdiff import (
        recrawl_schedule,
        snapshot_diff,
        synth_snapshots,
    )

    prev, curr = synth_snapshots(_t(spark, sf_dir, "documents"))
    return recrawl_schedule(snapshot_diff(prev, curr))


def _q_interval_match(spark, sf_dir):
    """Containment (range) join without a nested loop
    (operators/intervaljoin.py): overlapping campaign windows exploded
    into 15-min bins → plain equi-join on the bin + exact predicate;
    the naive BETWEEN formulation would plan as BroadcastNestedLoopJoin."""
    from crawler_spark.operators.intervaljoin import (
        interval_join,
        synth_campaigns,
        synth_fetches,
    )

    docs = _t(spark, sf_dir, "documents")
    return interval_join(synth_fetches(docs), synth_campaigns(docs))


def _q_url_filter(spark, sf_dir):
    """Pre-fetch corpus curation (operators/urlfilter.py): UT1-style
    domain blocklist as a broadcast LEFT join + path-pattern regex in
    one JVM pass — moves (url, host) rows only, never bodies."""
    from crawler_spark.operators.urlfilter import (
        synth_blocklist,
        url_category_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat("source", F.lit(".example.com")).alias("host"),
    )
    return url_category_filter(pages, synth_blocklist(docs))


def _q_host_reputation(spark, sf_dir):
    """Domain-level reputation (operators/urlfilter.py): one partial-agg
    group-by on host, integer ppm signals, allow/review/block verdict —
    the signal the recrawl scheduler and blocklist feed from."""
    from crawler_spark.operators.urlfilter import docs_with_host, host_reputation

    return host_reputation(docs_with_host(_t(spark, sf_dir, "documents")))


def _q_incremental_neardups(spark, sf_dir):
    """Continuous-crawl near-dup admission (operators/textdedup.py): a
    synthetic new batch (tailed near-dup twins + rewrite decoys) probed
    against the full corpus's LSH band index — per-batch cost is the new
    batch's bands plus a bucket equi-join; the corpus is never
    rescanned."""
    from crawler_spark.operators.textdedup import lsh_band_table, lsh_match_new
    from crawler_spark.oracle.sqlgen import NEW_DOC_OFFSET

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(NEW_DOC_OFFSET)).alias("doc_id"),
        F.when(
            F.col("doc_id") % 10 == 0, F.concat("text", F.lit(" extra tail"))
        )
        .otherwise(
            F.concat(F.lit("zz "), F.col("doc_id").cast("string"), F.lit(" qq"))
        )
        .alias("text"),
    )
    return lsh_match_new(lsh_band_table(new), lsh_band_table(docs))


def _q_quantize_embeddings(spark, sf_dir):
    """int8 scalar quantization of the embedding corpus
    (operators/similarity.py): one exploded partial-agg pass for the
    per-dim scales, broadcast 64-double scale vector, single zip_with
    map pass — the 4x storage shrink before ANN at 10^9 vectors.

    Driver projection is scalar-only (VERDICT r4 item 2): the harness
    canonicalizer cannot sort an array<int> column, so the qvec array
    is emitted as a CSV string here; the raw array form stays under
    pytest (tests/test_quantize.py)."""
    from crawler_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.concat_ws(",", F.transform("qvec", lambda v: v.cast("string"))).alias(
            "qvec_csv"
        ),
        "l1",
    )


def _q_trap_detect(spark, sf_dir):
    """Crawler-trap detection (operators/trapdetect.py): URL → path
    template via chained JVM regexp_replace, one partial-agg count per
    (host, template), integer-ppm explosion ratio vs the host's mean
    template size — the signal that demotes calendar/session-id URL
    mints in the frontier."""
    from crawler_spark.operators.trapdetect import synth_trap_urls, trap_detect

    return trap_detect(synth_trap_urls(_t(spark, sf_dir, "documents")))


def _q_host_link_summary(spark, sf_dir):
    """Host-level link graph (operators/linkgraph.py): page edges
    resolved to hosts through two dim joins, partial-agg pair counts
    (hosts² ≪ pages²), bounded per-src-host top-k over the aggregated
    rows — the domain-authority/link-spam layer above the page graph."""
    from crawler_spark.operators.linkgraph import host_links_over_documents

    return host_links_over_documents(_t(spark, sf_dir, "documents"))



def _q_anchor_terms(spark, sf_dir):
    """Anchor-text rollup (operators/anchortext.py): explode anchor
    terms (map stage), ONE partial-agg (dst, term) count, per-target
    top-k window over aggregated rows only — the what-the-web-says
    signal for uncrawled frontier URLs and anchor-spam detection."""
    from crawler_spark.operators.anchortext import anchors_over_documents

    return anchors_over_documents(_t(spark, sf_dir, "documents"))



def _q_registrable_rollup(spark, sf_dir):
    """Registered-domain politeness grouping (functions/url.py
    registrable_domain — PSL-lite): hosts with multi-label public
    suffixes collapse to suffix+1 label, pure JVM split/slice CASE, then
    one partial-agg rollup — the courtesy-budget key coarser than host
    (all subdomains of a site share one budget)."""
    from crawler_spark.functions.url import registrable_domain

    docs = _t(spark, sf_dir, "documents")
    g = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    tlds = F.array(
        F.lit("com"), F.lit("co.uk"), F.lit("org"),
        F.lit("com.au"), F.lit("de"), F.lit("co.jp"),
    )
    host = F.concat(
        F.lit("sub"), (F.col("doc_id") % 3).cast("string"), F.lit("."),
        F.col("source"), F.lit("."), F.element_at(tlds, g % 6 + 1),
    )
    h = docs.select(host.alias("host"))
    return (
        h.groupBy(registrable_domain(F.col("host")).alias("registrable"))
        .agg(
            F.countDistinct("host").alias("n_hosts"),
            F.count(F.lit(1)).alias("n_urls"),
        )
    )



def _q_redirect_rollup(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): pointer
    doubling resolves every 3xx chain to its terminal target in
    log2(L) self-joins (lineage-truncated per round), rho/cycle members
    flagged unresolved after the 32-hop cap; rolled up as a chain-length histogram
    + cycle census."""
    from crawler_spark.operators.redirects import redirects_over_documents

    return redirects_over_documents(_t(spark, sf_dir, "documents"))



def _q_sitemap_parse(spark, sf_dir):
    """Sitemap ingestion (sources/sitemap.py): per-host <urlset> XML →
    one row per entry via explode(split)+regexp_extract — a pure JVM
    map stage, no XML lib, no UDF; priority as exact ppm with the spec
    default. The oracle derives the entry set closed-form, so this
    query must actually parse the XML it synthesized."""
    from crawler_spark.sources.sitemap import parse_sitemaps, synth_sitemaps

    return parse_sitemaps(synth_sitemaps(_t(spark, sf_dir, "documents")))



def _q_mix_plan(spark, sf_dir):
    """Corpus mix allocation (operators/mixing.py): one partial-agg
    token-stats pass over the corpus, then an exact integer-ppm plan
    (desired tokens, upsampling epochs, tail sampling rate) over strata
    rows only — the GPT-3/Pile-style mix table as an auditable
    operator; rounding loss is reported, never silent."""
    from crawler_spark.operators.mixing import mix_over_documents

    return mix_over_documents(_t(spark, sf_dir, "documents"))



def _q_semdedup(spark, sf_dir):
    """SemDedup (operators/similarity.py, Abbas et al. 2023): map-side
    nearest-centroid assignment (literal-embedded centroids, no
    shuffle), within-cell pair compare only — O(n^2/c) instead of
    all-pairs — drop higher-id near-dups above the cosine threshold;
    audit view of every vector's verdict."""
    return SIM.semdedup(_t(spark, sf_dir, "embeddings"))



def _q_revisit_rollup(spark, sf_dir):
    """WARC revisit-record marking (operators/revisit.py — WARC 1.1
    identical-payload-digest profile): one window over (url, digest)
    flags recrawls whose payload didn't change; per-host ledger of
    bytes stored vs bytes the revisit records saved."""
    from crawler_spark.operators.revisit import (
        revisit_savings,
        synth_revisit_captures,
    )

    return revisit_savings(synth_revisit_captures(_t(spark, sf_dir, "documents")))


def _q_sitemap_recrawl(spark, sf_dir):
    """Conditional-fetch planner (operators/revisit.py): sitemap
    lastmod advertisements joined against the newest capture per URL —
    stale pages need a refetch, lastmod-less pages fall back to the
    change-rate schedule. The cheapest request is the one not made."""
    from crawler_spark.operators.revisit import (
        sitemap_staleness,
        synth_revisit_captures,
    )
    from crawler_spark.sources.sitemap import parse_sitemaps, synth_sitemaps

    docs = _t(spark, sf_dir, "documents")
    return sitemap_staleness(
        parse_sitemaps(synth_sitemaps(docs)).select("host", "loc", "lastmod"),
        synth_revisit_captures(docs),
    )



def _q_shuffle_layout(spark, sf_dir):
    """Deterministic seeded corpus shuffle (operators/shardshuffle.py):
    md5-keyed order -> hex-digit shard map (map-side) -> per-shard
    row_number window — the reproducible training-data layout, a pure
    function of (corpus, seed), invariant to cluster size and physical
    partitioning. Rolled up per shard with a permutation checksum."""
    from crawler_spark.operators.shardshuffle import shuffle_over_documents

    return shuffle_over_documents(_t(spark, sf_dir, "documents"))



def _q_main_text(spark, sf_dir):
    """jusText-style main-content extraction (operators/justext.py):
    per-block stopword-density classing (pure JVM map), the near-good
    neighbor promotion as one lag/lead window per document, reassembly
    bounded by single-doc size — fetch-time boilerplate removal with
    no corpus statistics."""
    from crawler_spark.operators.justext import extract_main_text

    return extract_main_text(_t(spark, sf_dir, "documents"))



def _q_dupe_census(spark, sf_dir):
    """Per-source duplication census (operators/components.py): cluster
    labels -> one join + partial-agg rollup with the soft-dedup kept
    mass (dedup-then-upweight) — the corpus-health report C4/RefinedWeb
    publish per source."""
    from crawler_spark.operators.components import (
        dedup_clusters,
        duplication_census,
    )

    d = _t(spark, sf_dir, "documents")
    return duplication_census(d, dedup_clusters(d, TD.minhash_lsh_pairs(d)))



def _q_politeness_audit(spark, sf_dir):
    """Read-side politeness audit (operators/crawlreport.py): fetch-log
    inter-arrival gaps per host (one lag window) vs the advertised
    crawl-delay (broadcast dim) -> violations + exact ppm compliance —
    the budget operator prevents, this proves."""
    from crawler_spark.operators.crawlreport import (
        politeness_compliance,
        synth_crawl_delays,
    )

    e = _t(spark, sf_dir, "events")
    fetches = e.select(
        F.concat(F.lit("h"), F.col("user_id").cast("string")).alias("host"),
        "event_id",
        "ts",
    )
    return politeness_compliance(fetches, synth_crawl_delays(fetches))



def _q_mix_execute(spark, sf_dir):
    """Mix-plan execution (operators/mixing.py): full-epoch replication
    via explode(sequence) plus a portable seeded-hash tail sample —
    deterministic, RNG-free, crash-rerun-identical; per-stratum
    achieved-vs-planned ledger closes the mixing loop."""
    from crawler_spark.operators.mixing import mix_execute_over_documents

    return mix_execute_over_documents(_t(spark, sf_dir, "documents"))



def _q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots bodies (functions/robots_parse.py
    robots_sitemaps): standalone Sitemap: records extracted by a pure
    filter+map over cleaned lines — bodies are a closed-form function
    of g = doc_id %% 50 (0, 1 or 2 records, mixed case, inline
    comments), so the oracle derives the expected counts and first URL
    arithmetically while the Spark side genuinely parses."""
    from crawler_spark.functions.robots_parse import robots_sitemaps

    d = _t(spark, sf_dir, "documents")
    g = (F.col("doc_id") % 50).cast("long")
    gs = g.cast("string")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /x\n"),
        F.when(
            g % 3 >= 1,
            F.concat(F.lit("SITEMAP: https://h"), gs,
                     F.lit(".example/s1.xml  # primary\n")),
        ).otherwise(F.lit("")),
        F.when(
            g % 3 == 2,
            F.concat(F.lit("sitemap: https://h"), gs, F.lit(".example/s2.xml.gz\n")),
        ).otherwise(F.lit("")),
    )
    sm = robots_sitemaps(body)
    return d.select(
        "doc_id",
        F.concat(F.lit("h"), gs).alias("host"),
        F.size(sm).alias("n_sitemaps"),
        F.get(sm, 0).alias("first_sitemap"),
    )


def _synth_source_urls(spark, sf_dir):
    """(doc_id, source, surt) synthetic URL universe shared by the
    cuckoo/cogroup probe queries. Their DuckDB twins re-derive the
    same 'https://' || source || '.example.com/doc/' || doc_id shape
    closed-form, so the format must stay byte-identical across all of
    them — hence ONE definition."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("surt"),
    )


def _q_cuckoo_unseen(spark, sf_dir):
    """Cuckoo-filter URL-seen (operators/cuckoo.py — the north rule's
    'bloom/cuckoo' second form): build the partitioned filter over the
    seen set PLUS a retracted subset, DELETE the retraction (the op the
    Bloom form can't do), then probe+exact-confirm the full candidate
    list. Output = per-source unseen counts; must equal the plain
    anti-join bit-exactly regardless of fingerprint collisions."""
    from crawler_spark.operators.cuckoo import CUCKOO
    from crawler_spark.operators.dedup import filter_unseen

    urls = _synth_source_urls(spark, sf_dir)
    ever = urls.where(F.col("doc_id") % 3 != 0)
    retracted = ever.where(F.col("doc_id") % 9 == 1)
    seen = ever.where(F.col("doc_id") % 9 != 1)
    filters = CUCKOO.delete(CUCKOO.build(ever.select("surt")), retracted.select("surt"))
    unseen = filter_unseen(urls, seen.select("surt"), filters, probe=CUCKOO.probe_broadcast)
    return unseen.groupBy("source").agg(F.count(F.lit(1)).alias("n_unseen"))


def _q_cuckoo_retract_cycle(spark, sf_dir):
    """Full cuckoo-filter lifecycle as one driver-oracled cycle
    (VERDICT r4 item 7): build → probe → retract (delete_cuckoo) →
    re-probe → re-admit (update_cuckoo) → probe again. At every phase
    the probe+exact-confirm unseen set must equal the plain anti-join
    against that phase's exact seen table — a delete can never
    resurrect a URL and a re-admission can never drop one, regardless
    of fingerprint collisions or bucket overflow-to-NULL. Output is
    one row per source with the three phase counts (scalar columns),
    so the driver canonicalizer can hash it."""
    from crawler_spark.operators.cuckoo import CUCKOO
    from crawler_spark.operators.dedup import filter_unseen

    urls = _synth_source_urls(spark, sf_dir)
    ever = urls.where(F.col("doc_id") % 3 != 0)
    retracted = ever.where(F.col("doc_id") % 9 == 1)
    readmit = retracted.where(F.col("doc_id") % 18 == 1)
    f_built = CUCKOO.build(ever.select("surt"))
    f_retracted = CUCKOO.delete(f_built, retracted.select("surt"))
    f_readmit = CUCKOO.update(f_retracted, readmit.select("surt"))
    seen_built = ever
    seen_retracted = ever.where(F.col("doc_id") % 9 != 1)
    seen_readmit = seen_retracted.unionByName(readmit)

    def phase_counts(filters, seen, out_col):
        u = filter_unseen(urls, seen.select("surt"), filters, probe=CUCKOO.probe_broadcast)
        return u.groupBy("source").agg(F.count(F.lit(1)).alias(out_col))

    sources = urls.select("source").distinct()
    out = sources
    for filters, seen, col in (
        (f_built, seen_built, "n_unseen_built"),
        (f_retracted, seen_retracted, "n_unseen_retracted"),
        (f_readmit, seen_readmit, "n_unseen_readmitted"),
    ):
        out = out.join(phase_counts(filters, seen, col), "source", "left")
    return out.select(
        "source",
        F.coalesce("n_unseen_built", F.lit(0)).alias("n_unseen_built"),
        F.coalesce("n_unseen_retracted", F.lit(0)).alias("n_unseen_retracted"),
        F.coalesce("n_unseen_readmitted", F.lit(0)).alias("n_unseen_readmitted"),
    )


def _q_salsa_scores(spark, sf_dir):
    """Closed-form SALSA (operators/linkgraph.salsa — Lempel & Moran
    WWW 2000): the TKC-resistant random-walk counterpart to HITS. No
    score iteration at all: one bipartite connected-components run +
    degree/component aggregates reproduce the stationary distribution
    exactly (paper Prop. 2) in integer ppb — the link-farm-robust
    authority tier beside `hits_scores`/`trustrank`."""
    from crawler_spark.operators.linkgraph import salsa_over_documents

    return salsa_over_documents(_t(spark, sf_dir, "documents"))


def _q_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality via per-node HyperANF in-balls
    (operators/linkgraph.harmonic_centrality — Boldi & Vigna, Axioms
    for Centrality 2014 + HyperANF WWW 2011): Σ 1/d(u,v) in exact
    milli-units — the axiom-clean seed-selection / frontier-priority
    score, one register max-merge round per radius over reversed
    edges, deltas weighted 1/t through a node-partitioned window."""
    from crawler_spark.operators.linkgraph import harmonic_over_documents

    return harmonic_over_documents(_t(spark, sf_dir, "documents"))


def _q_cogroup_probe_unseen(spark, sf_dir):
    """The beyond-broadcast probe path, driver-oracled (it was
    pytest-only through round 4): at 10^10 seen keys the filter tables
    (~190 GB of cuckoo slots / Bloom bits) cannot ship to every
    executor, so candidates shuffle to their bucket and each bucket's
    blob crosses the wire once per bucket, never once per row. This
    query FORCES the cogrouped probe (``SeenFilter.probe_cogroup``) for
    BOTH filter forms through filter_unseen_pruned's ``probe=`` slot, and
    each per-source unseen count must equal the plain anti-join set
    algebra bit-exactly (correctness lives in the confirm join, never in
    the filter)."""
    from crawler_spark.operators.bloom import BLOOM
    from crawler_spark.operators.cuckoo import CUCKOO
    from crawler_spark.operators.dedup import filter_unseen_pruned
    from crawler_spark.operators.seenfilter import bucket_of

    urls = _synth_source_urls(spark, sf_dir)
    seen = urls.where(F.col("doc_id") % 4 != 0)
    seen_b = seen.withColumn("bucket", bucket_of("surt"))
    out = urls.select("source").distinct()
    cols = []
    for form, col in ((BLOOM, "n_unseen_bloom_cogroup"), (CUCKOO, "n_unseen_cuckoo_cogroup")):
        res = filter_unseen_pruned(
            urls, seen_b, form.build(seen.select("surt")), probe=form.probe_cogroup
        )
        counts = (
            res.unseen.groupBy("source").agg(F.count(F.lit(1)).alias(col)).localCheckpoint()
        )
        res.probed.unpersist()
        out = out.join(counts, "source", "left")
        cols.append(F.coalesce(col, F.lit(0)).alias(col))
    return out.select("source", *cols)


def _q_cluster_keep_best(spark, sf_dir):
    """Quality-aware canonical selection (operators/components.
    cluster_keep_best): within every MinHash-LSH duplicate cluster keep
    the argmax-quality copy (RefinedWeb/FineWeb keep-best, not the
    crawl-parity min-id first-wins). One partial-agg argmax per cluster
    — min_by over a (-quality, id) struct, no window — then a join
    back on cluster_id."""
    from crawler_spark.functions.textstats import quality_features
    from crawler_spark.operators.components import (
        cluster_keep_best,
        dedup_clusters,
    )

    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        quality_features(F.col("text"))["quality_score_pm"].alias("quality_pm"),
    )
    return cluster_keep_best(q, dedup_clusters(d, TD.minhash_lsh_pairs(d)))


def _q_skipgram_pairs(spark, sf_dir):
    """Skip-gram co-occurrence counts (operators/cooccur, word2vec/
    GloVe training statistic): undirected ±3-token-window pairs with
    exact integer closeness mass Σ(1000 div d) — pure-JVM per-offset
    transform/explode fan-out into ONE partial-agg groupBy(a, b),
    count-1 tail pruned inside the agg."""
    from crawler_spark.operators.cooccur import skipgram_pairs

    return skipgram_pairs(_t(spark, sf_dir, "documents"))


def _q_fetch_shard_plan(spark, sf_dir):
    """Fetcher-shard load balancing (operators/fairshare.
    serpentine_shard_plan): hosts (politeness affinity forbids
    splitting one) snake-drafted over 8 shards by load rank — the
    declarative LPT stand-in — then the K-row per-shard rollup with
    per-mille load shares. The only global sort is over |hosts|, not
    |urls|."""
    from crawler_spark.operators.fairshare import serpentine_shard_plan

    hosts = (
        _t(spark, sf_dir, "documents")
        .groupBy(
            F.concat(
                F.col("source"), F.lit("-"), (F.col("doc_id") % 97).cast("string")
            ).alias("host")
        )
        .agg(F.sum("n_chars").alias("load"))
    )
    return serpentine_shard_plan(hosts)


def _q_trustrank(spark, sf_dir):
    """Anti-spam frontier priority: TrustRank (Gyöngyi et al., VLDB
    2004 — operators/linkgraph.trustrank) over the arithmetic link
    graph with the deterministic doc_id %% 17 seed rule. Teleport mass
    flows only from trusted seeds, so link farms starve; exact integer
    ppb updates keep the 5-iteration loop bit-identical to the
    unrolled-CTE oracle."""
    from crawler_spark.operators.linkgraph import trustrank_over_documents

    return trustrank_over_documents(_t(spark, sf_dir, "documents"))


def _q_postings_size_plan(spark, sf_dir):
    """Index-storage sizing (operators/invindex.postings_size_plan):
    exact Elias-γ / varint cost of every term's delta-gap posting list
    — hierarchical two-level gap computation so stopword terms never
    funnel a whole posting list through one window task; row-identical
    to the oracle's naive flat-lag form."""
    from crawler_spark.operators.invindex import postings_size_plan

    return postings_size_plan(_t(spark, sf_dir, "documents"))


def _q_vocab_coverage(spark, sf_dir):
    """Tokenizer-budget decision table (operators/termstats.
    vocab_coverage): corpus token coverage of a top-k word vocabulary
    at k ∈ {100, 1k, 10k} — one partial-agg unigram count, one
    vocab-bounded rank window, ONE conditional-sum aggregate."""
    from crawler_spark.operators.termstats import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"))


def _q_opic_priority(spark, sf_dir):
    """OPIC frontier importance (operators/linkgraph.opic, Abiteboul
    et al. WWW 2003): cash diffusion + banked history over the
    arithmetic link graph — the crawler-native, damping-free,
    incrementally-updatable priority measure (Nutch/Heritrix lineage);
    exact integer ppb loop, unrolled-CTE oracle."""
    from crawler_spark.operators.linkgraph import opic_over_documents

    return opic_over_documents(_t(spark, sf_dir, "documents"))


def _q_degree_histogram(spark, sf_dir):
    """Web-graph power-law health check (operators/linkgraph.
    degree_histogram, Broder et al. WWW 2000): node counts per log2
    in-/out-degree bucket — a truncated tail is the crawl-trap /
    mirror-dominance symptom. Two partial aggs per direction, ≤64
    rows out."""
    from crawler_spark.operators.linkgraph import (
        degree_histogram_over_documents,
    )

    return degree_histogram_over_documents(_t(spark, sf_dir, "documents"))


def _q_url_templates(spark, sf_dir):
    """DUST-style URL path-template census (operators/urlmining.py —
    Bar-Yossef et al. WWW 2007): normalize numeric ids / 16-hex session
    tokens into placeholders, count URLs per template, flag parametric
    templates above the trap threshold. One regexp projection + one
    partial agg; oracle applies the identical normalization order."""
    from crawler_spark.operators.urlmining import url_templates_over_documents

    return url_templates_over_documents(_t(spark, sf_dir, "documents"))


def _q_containment_pairs(spark, sf_dir):
    """Broder containment over LSH candidates (operators/textdedup.
    containment_pairs — SEQUENCES 1997): asymmetric partial-copy
    detection (quotes/syndication) beside symmetric Jaccard; exact
    intersection only over candidate docs, integer per-mille."""
    from crawler_spark.operators.textdedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"))


def _q_lang_temperature_mix(spark, sf_dir):
    """Temperature-sampled multilingual budget (operators/mixing.
    lang_temperature_allocation — XLM-R α=1/2): exact isqrt weights,
    largest-remainder apportionment summing exactly to the budget."""
    from crawler_spark.operators.mixing import lang_temperature_allocation

    return lang_temperature_allocation(_t(spark, sf_dir, "documents"))


def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc.py — LBFS SOSP 2001):
    h64(word) mod CDC_DIV boundaries sliced in ONE map stage of array
    expressions, then corpus-wide chunk copy counts via one partial-agg
    groupBy + equi-join (the exact-dedup plan shape at chunk grain)."""
    from crawler_spark.operators.cdc import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


def _q_spam_mass(spark, sf_dir):
    """Relative spam mass (operators/linkgraph.spam_mass — Gyöngyi et
    al. VLDB 2006): the PageRank fraction NOT backed by trust,
    composing the pagerank and trustrank integer loops over one shared
    checkpointed edge list; exact per-mille, clamped at 0."""
    from crawler_spark.operators.linkgraph import spam_mass_over_documents

    return spam_mass_over_documents(_t(spark, sf_dir, "documents"))


def _q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (operators/winnowing.py — Schleimer et
    al. SIGMOD 2003 / MOSS): rightmost-min window selection with the
    shared-passage detection guarantee MinHash lacks; one map stage of
    array expressions + one partial-agg sharing count."""
    from crawler_spark.operators.winnowing import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def _q_collocation_topk(spark, sf_dir):
    """Integer-lift collocation mining (operators/cooccur.py — the
    log-free PMI surrogate, Church & Hanks 1990 / SIGMOD 1997 lift):
    top-k pairs by cnt·N·1000 div (ca·cb), exact int64, TakeOrdered
    with a total-order tie-break."""
    from crawler_spark.operators.cooccur import collocation_topk

    return collocation_topk(_t(spark, sf_dir, "documents"))


def _q_bowtie_regions(spark, sf_dir):
    """Bow-tie decomposition (operators/linkgraph.bowtie_regions —
    Broder et al. WWW 2000): forward/backward BFS fixpoints from the
    max-degree pivot, core/in/out/other census — the crawl-health map
    (tiny core + huge out = trap/mirror dominance)."""
    from crawler_spark.operators.linkgraph import bowtie_over_documents

    return bowtie_over_documents(_t(spark, sf_dir, "documents"))


def _q_triangle_counts(spark, sf_dir):
    """Per-node triangle census + clustering coefficient (operators/
    linkgraph.triangle_counts — Suri & Vassilvitskii WWW 2011):
    (degree, id)-ordered edge orientation bounds wedge fan-out at
    O(√m) per node, so a mega-hub never creates the 'last reducer';
    near-clique neighborhoods are the link-farm density signal."""
    from crawler_spark.operators.linkgraph import triangles_over_documents

    return triangles_over_documents(_t(spark, sf_dir, "documents"))


def _q_heaps_curve(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve (operators/termstats.
    heaps_curve): new-type counts per corpus-prefix bucket via one
    min-bucket partial agg; a linearly-rising tail is the
    id-pollution symptom. Windows over ≤ HEAPS_BUCKETS rows."""
    from crawler_spark.operators.termstats import heaps_curve

    d = _t(spark, sf_dir, "documents")
    return heaps_curve(d, d.count())


def _q_hyperanf(spark, sf_dir):
    """HyperANF neighborhood function (operators/linkgraph.hyperanf —
    Boldi, Rosa & Vigna WWW 2011): per-node portable-HLL counters
    max-merged one join+agg per radius; NF(t) is the crawl's t-hop
    reach profile and its plateau the effective diameter."""
    from crawler_spark.operators.linkgraph import hyperanf_over_documents

    return hyperanf_over_documents(_t(spark, sf_dir, "documents"))


def _q_dedup_cascade(spark, sf_dir):
    """The full C4/RefinedWeb/FineWeb dedup cascade composed end-to-end
    (operators/cascade.py): exact (hash, first-wins) → MinHash-LSH
    clustering over survivors → keep-best-quality per cluster, with
    the per-stage survivor ledger. Input re-adds every 25th doc as a
    planted byte-duplicate so the exact stage provably fires."""
    from crawler_spark.operators.cascade import cascade_input, dedup_cascade

    return dedup_cascade(cascade_input(_t(spark, sf_dir, "documents")))


def _q_soft404(spark, sf_dir):
    """Soft-404 detection (operators/soft404.py — Bar-Yossef et al.
    WWW 2004 'Sic transit gloria telae'): error bodies served as 200,
    flagged by marker mass × status cross-check — pure-JVM projection,
    no shuffle; feeds corpus drop + frontier demotion."""
    from crawler_spark.operators.soft404 import soft404_over_documents

    return soft404_over_documents(_t(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Ordering note: the driver's per-round CORRECTNESS window samples
        # queries in registry order (~50/round). Round-5 rotation (VERDICT
        # r4 item 1): the 34 round-4 additions that have never received a
        # driver-oracle row (all local-gate green) now lead, followed by
        # quantize_embeddings (driver-errored in r4 on its array<int>
        # column — projection fixed to scalar columns, needs its first
        # green row) and the new round-5 queries. The driver-green r4 set
        # follows, then the long-green round-1/2 set. Union across rounds
        # = full registry.
        "inverted_index": _q_inverted_index,
        "bm25_topk": _q_bm25_topk,
        "priority_sample": _q_priority_sample,
        "fair_budget": _q_fair_budget,
        "hits_scores": _q_hits_scores,
        "hll_union_rollup": _q_hll_union_rollup,
        "split_assign": _q_split_assign,
        "pad_plan": _q_pad_plan,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "bpe_merge_round": _q_bpe_merge_round,
        "community_labels": _q_community_labels,
        "pq_encode": _q_pq_encode,
        "data_card": _q_data_card,
        "cluster_keep_best": _q_cluster_keep_best,
        "skipgram_pairs": _q_skipgram_pairs,
        "fetch_shard_plan": _q_fetch_shard_plan,
        "trustrank": _q_trustrank,
        "postings_size_plan": _q_postings_size_plan,
        "vocab_coverage": _q_vocab_coverage,
        "opic_priority": _q_opic_priority,
        "degree_histogram": _q_degree_histogram,
        "url_templates": _q_url_templates,
        "containment_pairs": _q_containment_pairs,
        "lang_temperature_mix": _q_lang_temperature_mix,
        "cdc_chunks": _q_cdc_chunks,
        "spam_mass": _q_spam_mass,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "collocation_topk": _q_collocation_topk,
        "bowtie_regions": _q_bowtie_regions,
        "triangle_counts": _q_triangle_counts,
        "heaps_curve": _q_heaps_curve,
        "hyperanf": _q_hyperanf,
        "dedup_cascade": _q_dedup_cascade,
        "soft404_detect": _q_soft404,
        "quantize_embeddings": _q_quantize_embeddings,
        # --- round-5 additions (driver-unchecked, keep inside window) ---
        "cuckoo_retract_cycle": _q_cuckoo_retract_cycle,
        "politeness_equivalence": _q_politeness_equivalence,
        "cogroup_probe_unseen": _q_cogroup_probe_unseen,
        "salsa_scores": _q_salsa_scores,
        "harmonic_centrality": _q_harmonic_centrality,
        # --- driver-green in round 4 (CORRECTNESS_r04.json) ---
        "sink_roundtrip": _q_sink_roundtrip,
        "robots_rules": _q_robots_rules,
        "span_dedup": _q_span_dedup,
        "linkgraph_pagerank": _q_linkgraph_pagerank,
        "sequence_pack": _q_sequence_pack,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "recrawl_report": _q_recrawl_report,
        "fetch_sessions": _q_sessionize,
        "lm_familiarity": _q_lm_familiarity,
        "snapshot_asof": _q_snapshot_asof,
        "cdx_closest": _q_cdx_closest,
        "cdx_collapse_digest": _q_cdx_collapse_digest,
        "cdx_collapse_time": _q_cdx_collapse_time,
        "crawl_rollup": _q_crawl_rollup,
        "latency_quantiles": _q_latency_quantiles,
        "recrawl_schedule": _q_recrawl_schedule,
        "interval_match": _q_interval_match,
        "url_filter": _q_url_filter,
        "host_reputation": _q_host_reputation,
        "incremental_neardups": _q_incremental_neardups,
        "trap_detect": _q_trap_detect,
        "host_link_summary": _q_host_link_summary,
        "cuckoo_unseen": _q_cuckoo_unseen,
        "anchor_terms": _q_anchor_terms,
        "registrable_rollup": _q_registrable_rollup,
        "redirect_rollup": _q_redirect_rollup,
        "sitemap_parse": _q_sitemap_parse,
        "mix_plan": _q_mix_plan,
        "semdedup": _q_semdedup,
        "revisit_rollup": _q_revisit_rollup,
        "sitemap_recrawl": _q_sitemap_recrawl,
        "shuffle_layout": _q_shuffle_layout,
        "main_text": _q_main_text,
        "dupe_census": _q_dupe_census,
        "politeness_audit": _q_politeness_audit,
        "mix_execute": _q_mix_execute,
        "robots_sitemaps": _q_robots_sitemaps,
        "robots_wildcard": _q_robots_wildcard,
        "fetch_timetable": _q_fetch_timetable,
        "dsir_select": _q_dsir_select,
        "outlink_extract": _q_outlink_extract,
        "mirror_detect": _q_mirror_detect,
        "nofollow_outlinks": _q_nofollow_outlinks,
        "canonical_cluster": _q_canonical_cluster,
        # round-4 additions (never driver-checked yet — keep inside the
        # ~50-query window, after the round-3 backlog)
        "ngram_lm_counts": _q_ngram_lm_counts,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "hashed_quality": _q_hashed_quality,
        "hll_distinct": _q_hll_distinct,
        "bucketed_join": _q_bucketed_join,
        # --- driver-green in rounds 1-3 (CORRECTNESS_r0{1,2,3}.json) ---
        "cdx_latest_index": _q_cdx_latest_index,  # driver-green r2
        "corpus_classify": _q_corpus_classify,  # driver-green r2
        "flagship_classify": _q_flagship,
        "pricing_summary": _q_pricing_summary,
        "time_range_rollup": _q_time_range,
        "topk_heavy_users": _q_topk_users,
        "first_event_per_user": _q_first_event_per_user,
        "headk_per_group": _q_headk_per_group,
        "anti_join_unseen": _q_anti_join_unseen,
        "broadcast_join_parts": _q_broadcast_join,
        "failure_rollup": _q_failure_rollup,
        "distinct_counts": _q_distinct_counts,
        "avg_per_group": _q_avg_per_group,
        "merge_runs": _q_merge_runs,
        "politeness_budget": _q_politeness_budget,
        "segment_histogram": _q_segment_histogram,
        "content_sniff": _q_content_sniff,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "ngram_jaccard_neardups": _q_ngram_jaccard,
        "minhash_signatures": _q_minhash_signatures,
        "minhash_lsh_candidates": _q_minhash_lsh,
        "dedup_clusters": _q_dedup_clusters,
        "boilerplate_removal": _q_boilerplate_removal,
        "repetition_stats": _q_repetition_stats,
        "decontaminate": _q_decontaminate,
        "pii_scrub": _q_pii_scrub,
        "stratified_sample": _q_stratified_sample,
        "simhash_fingerprints": _q_simhash,
        "simhash_neardups": _q_simhash_neardups,
        "lsh_quality": _q_lsh_quality,
        "cosine_topk": _q_cosine_topk,
        "cosine_neardup_pairs": _q_cosine_neardup,
        "embedding_centroids": _q_centroids,
        "ann_lsh_neardups": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_recall": _q_ann_recall,
        "cdx_domain_select": _q_cdx_domain_select,
        "per_domain_headk": _q_per_domain_headk,
        "targeted_classify": _q_targeted_classify,
        "media_decode_features": _q_media_features,
        "media_frame_sample": _q_media_frames,
        "media_resize_plan": _q_media_resize,
        "media_type_stats": _q_media_stats,
        "warc_ingest": _q_warc_ingest,
        "warc_outlinks": _q_warc_outlinks,
        "url_param_strip": _q_url_param_strip,
        "text_chunks": _q_text_chunks,
        "warc_ingest_targeted": _q_warc_ingest_targeted,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "flagship_classify": SG.sql_flagship(),
        "sink_roundtrip": SG.sql_sink_roundtrip(),
        "ngram_lm_counts": SG.sql_ngram_lm_counts(),
        "cms_heavy_hitters": SG.sql_cms_heavy_hitters(),
        "hashed_quality": SG.sql_hashed_quality(),
        "hll_distinct": SG.sql_hll_distinct(),
        "bucketed_join": SG.sql_bucketed_join(),
        "inverted_index": SG.sql_inverted_index(),
        "bm25_topk": SG.sql_bm25_topk(),
        "priority_sample": SG.sql_priority_sample(),
        "fair_budget": SG.sql_fair_budget(),
        "hits_scores": SG.sql_hits_scores(),
        "hll_union_rollup": SG.sql_hll_union_rollup(),
        "split_assign": SG.sql_split_assign(),
        "pad_plan": SG.sql_pad_plan(),
        "bpe_pair_counts": SG.sql_bpe_pair_counts(),
        "bpe_merge_round": SG.sql_bpe_merge_round(),
        "community_labels": SG.sql_community_labels(),
        "pq_encode": SG.sql_pq_encode(),
        "data_card": SG.sql_data_card(),
        "cluster_keep_best": SG.sql_cluster_keep_best(),
        "skipgram_pairs": SG.sql_skipgram_pairs(),
        "fetch_shard_plan": SG.sql_fetch_shard_plan(),
        "trustrank": SG.sql_trustrank(),
        "postings_size_plan": SG.sql_postings_size_plan(),
        "vocab_coverage": SG.sql_vocab_coverage(),
        "opic_priority": SG.sql_opic(),
        "degree_histogram": SG.sql_degree_histogram(),
        "url_templates": SG.sql_url_templates(),
        "containment_pairs": SG.sql_containment_pairs(),
        "lang_temperature_mix": SG.sql_lang_temperature(),
        "cdc_chunks": SG.sql_cdc_chunks(),
        "spam_mass": SG.sql_spam_mass(),
        "winnow_fingerprints": SG.sql_winnow_fingerprints(),
        "collocation_topk": SG.sql_collocation_topk(),
        "bowtie_regions": SG.sql_bowtie_regions(),
        "triangle_counts": SG.sql_triangle_counts(),
        "heaps_curve": SG.sql_heaps_curve(),
        "hyperanf": SG.sql_hyperanf(),
        "dedup_cascade": SG.sql_dedup_cascade(),
        "soft404_detect": SG.sql_soft404(),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus""",
        "time_range_rollup": """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND o_orderstatus = 'F'
GROUP BY 1""",
        "topk_heavy_users": """
SELECT user_id, count(*) AS n FROM events
GROUP BY user_id ORDER BY n DESC, user_id ASC LIMIT 10""",
        "first_event_per_user": """
SELECT user_id, event_id, event_type FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1""",
        "headk_per_group": """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey
                               ORDER BY l_shipdate, l_linenumber,
                                        l_partkey, l_suppkey, l_quantity) AS rn
  FROM lineitem
) WHERE rn <= 2""",
        "anti_join_unseen": """
SELECT c_mktsegment, count(*) AS n_unseen FROM customer
WHERE c_custkey NOT IN (SELECT DISTINCT user_id FROM events)
GROUP BY c_mktsegment""",
        "broadcast_join_parts": """
SELECT p_brand, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= 5 GROUP BY p_brand""",
        "failure_rollup": """
SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY event_type""",
        "distinct_counts": """
SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       count(DISTINCT event_type) AS n_types
FROM events""",
        "avg_per_group": """
SELECT round(avg(n_types), 4) AS avg_types,
       max(n_types) AS max_types, min(n_types) AS min_types
FROM (SELECT user_id, count(DISTINCT event_type) AS n_types
      FROM events GROUP BY user_id)""",
        "merge_runs": """
SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys FROM (
  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT * FROM orders WHERE o_totalprice > 400000
)""",
        "politeness_budget": """
SELECT source, doc_id, n_chars FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 5""",
        "segment_histogram": """
SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment""",
        "content_sniff": """
SELECT source, count(*) AS n_hits FROM documents
WHERE strpos(substr(text, 1, 200), 'table') > 0
GROUP BY source""",
        "dedup_exact": SG.sql_dedup_exact(),
        "token_stats": SG.sql_token_stats(),
        "quality_score": SG.sql_quality(),
        "lang_id": SG.sql_lang_id(),
        "doc_fingerprint": SG.sql_fingerprint(),
        "ngram_jaccard_neardups": SG.sql_ngram_jaccard(),
        "minhash_signatures": SG.sql_minhash_signatures(),
        "minhash_lsh_candidates": SG.sql_minhash_lsh_pairs(),
        "dedup_clusters": SG.sql_dedup_clusters(),
        "boilerplate_removal": SG.sql_boilerplate_removal(),
        "repetition_stats": SG.sql_repetition_stats(),
        "decontaminate": SG.sql_decontaminate(),
        "pii_scrub": SG.sql_pii_scrub(),
        "stratified_sample": SG.sql_stratified_sample(),
        "simhash_fingerprints": SG.sql_simhash(),
        "simhash_neardups": SG.sql_simhash_neardups(),
        "lsh_quality": SG.sql_lsh_quality(),
        "cosine_topk": SG.sql_cosine_topk(TOPK_QUERY_IDS),
        "cosine_neardup_pairs": SG.sql_cosine_neardup(),
        "embedding_centroids": SG.sql_centroids(),
        "ann_lsh_neardups": SG.sql_ann_lsh(),
        "ann_ivf_topk": SG.sql_ivf_topk(TOPK_QUERY_IDS, nprobe=SIM.IVF_NPROBE),
        "ann_recall": SG.sql_ann_recall(TOPK_QUERY_IDS, nprobe=SIM.IVF_NPROBE),
        "cdx_domain_select": SG.sql_cdx_domain_select(CDX_FROM_TS, CDX_TO_TS),
        "per_domain_headk": SG.sql_per_domain_headk(PER_DOMAIN_K),
        "targeted_classify": SG.sql_targeted_classify(CDX_FROM_TS),
        "media_decode_features": SG.sql_media_features(),
        "media_frame_sample": SG.sql_media_frame_sample(MEDIA_FRAME_EVERY_K),
        "media_resize_plan": SG.sql_media_resize(MEDIA_RESIZE_MAX_SIDE),
        "media_type_stats": SG.sql_media_stats(),
        "warc_ingest": SG.sql_warc_ingest(),
        "warc_outlinks": SG.sql_warc_outlinks(),
        "url_param_strip": SG.sql_url_param_strip(),
        "text_chunks": SG.sql_text_chunks(),
        "warc_ingest_targeted": SG.sql_warc_ingest_targeted(),
        "cdx_latest_index": SG.sql_cdx_latest_index(),
        # corpus_classify: the gzip/charset decode + Arrow detector are
        # non-SQL, but the deterministic generator makes the expected
        # histogram a constant — derived independently by the row-at-a-time
        # reference oracles (tools/gen_corpus_fixture.py, re-checked by
        # tests/test_corpus.py every run).
        "corpus_classify": SG.sql_corpus_classify(),
        "robots_rules": SG.sql_robots_rules(),
        "span_dedup": SG.sql_span_dedup(),
        "linkgraph_pagerank": SG.sql_linkgraph_pagerank(),
        "sequence_pack": SG.sql_sequence_pack(),
        "tfidf_top_terms": SG.sql_tfidf_top_terms(),
        "recrawl_report": SG.sql_recrawl_report(),
        "fetch_sessions": SG.sql_sessionize(),
        "lm_familiarity": SG.sql_lm_familiarity(),
        "snapshot_asof": SG.sql_snapshot_asof(),
        "cdx_closest": SG.sql_cdx_closest(CDX_CLOSEST_TS),
        "cdx_collapse_digest": SG.sql_cdx_collapse_digest(),
        "cdx_collapse_time": SG.sql_cdx_collapse_time(CDX_COLLAPSE_DIGITS),
        "crawl_rollup": SG.sql_crawl_rollup(),
        "latency_quantiles": SG.sql_latency_quantiles(),
        "recrawl_schedule": SG.sql_recrawl_schedule(),
        "interval_match": SG.sql_interval_match(),
        "url_filter": SG.sql_url_filter(),
        "host_reputation": SG.sql_host_reputation(),
        "incremental_neardups": SG.sql_incremental_neardups(),
        "quantize_embeddings": SG.sql_quantize_embeddings(),
        "trap_detect": SG.sql_trap_detect(),
        "host_link_summary": SG.sql_host_link_summary(),
        "cuckoo_unseen": SG.sql_cuckoo_unseen(),
        "cuckoo_retract_cycle": SG.sql_cuckoo_retract_cycle(),
        "politeness_equivalence": SG.sql_politeness_equivalence(),
        "cogroup_probe_unseen": SG.sql_cogroup_probe_unseen(),
        "salsa_scores": SG.sql_salsa_scores(),
        "harmonic_centrality": SG.sql_harmonic_centrality(),
        "anchor_terms": SG.sql_anchor_terms(),
        "registrable_rollup": SG.sql_registrable_rollup(),
        "redirect_rollup": SG.sql_redirect_rollup(),
        "sitemap_parse": SG.sql_sitemap_parse(),
        "mix_plan": SG.sql_mix_plan(),
        "semdedup": SG.sql_semdedup(),
        "revisit_rollup": SG.sql_revisit_rollup(),
        "sitemap_recrawl": SG.sql_sitemap_recrawl(),
        "shuffle_layout": SG.sql_shuffle_layout(),
        "main_text": SG.sql_main_text(),
        "dupe_census": SG.sql_dupe_census(),
        "politeness_audit": SG.sql_politeness_audit(),
        "mix_execute": SG.sql_mix_execute(),
        "robots_sitemaps": SG.sql_robots_sitemaps(),
        "robots_wildcard": SG.sql_robots_wildcard(),
        "fetch_timetable": SG.sql_fetch_timetable(),
        "dsir_select": SG.sql_dsir_select(),
        "outlink_extract": SG.sql_outlink_extract(),
        "mirror_detect": SG.sql_mirror_detect(),
        "nofollow_outlinks": SG.sql_nofollow_outlinks(),
        "canonical_cluster": SG.sql_canonical_cluster(),
    }
