"""EP2 — bulk WARC classification, the flagship query.

One declarative job reproducing the reference's per-WARC pipeline
(/root/reference/src/warc_processor.py:283-380):

  pages scan → [optional per-WARC head-k sample] → response-only filter →
  content-sniff HTML filter → vectorized detector → {high,medium} gate →
  urlparse domain/schema → per-WARC first-wins dedupe → R8 result rows

Scale notes (.explain-checked):
- the scan projects only the columns used (``text`` never ``html``) —
  parquet column pruning keeps 100 TB of raw bytes unread, the same
  ≥95% transfer saving the reference gets from HTTP Range requests
  (reference README.md:110-114);
- the content-sniff runs on ``substring(text, 1, 1000)`` JVM-side before
  the Arrow stage, so the Python workers only ever see HTML rows;
- the per-WARC dedupe window and the head-k sample share one partitioning
  (``warc_source``) → a single shuffle serves both;
- the detector is one fused Arrow UDF stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.functions.detector import confidence_rank, detect_udf
from crawler_spark.functions.url import canonicalize_udf


def content_sniff_html(text_col) -> Column:
    """'html' in content[:1000].lower() — the bulk path's HTML predicate
    (reference src/warc_processor.py:266-271; distinct from the
    header-based predicate, SURVEY §2.3)."""
    return F.instr(F.lower(F.substring(text_col, 1, 1000)), "html") > 0


def classify_bulk(
    pages: DataFrame,
    sample_per_warc: int | None = None,
    min_confidence: str = "medium",
    dedupe: str = "per_warc",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The flagship classification plan. Returns R8 result rows:
    (domain, url, schema, confidence, indicators, build_id, version,
    warc_source).

    sample_per_warc: first-k records per WARC in file order (warc_offset) —
        the batch reformulation of the reference's 10 MB head sample
        (src/warc_processor.py:179-181).
    dedupe: 'per_warc' (EP2, src/warc_processor.py:360-361),
        'global' (EP1, src/crawler.py:181-186), or 'none'.
    extra_cols: page columns to carry through unchanged (e.g. warc_ts for
        the targeted path's detected_at/crawl_date stand-ins).
    """
    df = pages
    if sample_per_warc is not None:
        # The head sample covers ALL record types (the reference slices the
        # first N MB of the raw file, THEN filters response records inside
        # parse_warc_sample — src/warc_processor.py:179-181, :253-254), so
        # the sample window must run before the response filter.
        w = Window.partitionBy("warc_source").orderBy("warc_offset")
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= sample_per_warc)
            .drop("_rn")
        )

    df = df.where(F.col("rec_type") == "response")

    df = df.where(content_sniff_html(F.col("text")))

    det = df.select(
        "url",
        "warc_source",
        "warc_offset",
        *extra_cols,
        detect_udf(F.col("text")).alias("d"),
        canonicalize_udf(F.col("url")).alias("c"),
    )

    from crawler_spark.patterns import CONFIDENCE_ORDER

    min_rank = CONFIDENCE_ORDER.get(min_confidence, 2)
    gated = det.where(
        F.col("d.is_nextjs") & (confidence_rank(F.col("d.confidence")) >= F.lit(min_rank))
    )

    result = gated.select(
        F.col("c.domain").alias("domain"),
        "url",
        F.col("c.schema").alias("schema"),
        F.col("d.confidence").alias("confidence"),
        F.col("d.indicators").alias("indicators"),
        F.col("d.build_id").alias("build_id"),
        F.col("d.version").alias("version"),
        "warc_source",
        "warc_offset",
        *extra_cols,
    )

    if dedupe == "per_warc":
        w = Window.partitionBy("warc_source", "url").orderBy("warc_offset")
        result = result.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        ).drop("_rn")
    elif dedupe == "global":
        w = Window.partitionBy("url").orderBy("warc_offset", "warc_source")
        result = result.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") == 1
        ).drop("_rn")
    elif dedupe != "none":
        raise ValueError(f"unknown dedupe policy {dedupe!r}")

    return result.drop("warc_offset")


def stats_rollup(results: DataFrame) -> DataFrame:
    """R10 counters (reference src/warc_processor.py:101-108, :521-522):
    processed/nextjs_found + distinct url/domain counts."""
    return results.agg(
        F.count("*").alias("nextjs_found"),
        F.countDistinct("url").alias("total_urls"),
        F.countDistinct("domain").alias("total_domains"),
    )


def count_by_confidence(results: DataFrame) -> DataFrame:
    """main.py:155-163 summary."""
    return results.groupBy("confidence").agg(F.count("*").alias("n")).orderBy("confidence")


def top_domains(results: DataFrame, k: int = 10) -> DataFrame:
    """test_warc_domains.py:88-91: Counter(domains).most_common(k)."""
    return (
        results.groupBy("domain")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "domain")
        .limit(k)
    )
