"""Dedupe operators — the reference's three membership policies, Spark-first.

Reference semantics (SURVEY §2.4):
- global URL-seen (src/crawler.py:54-55,181-186): drop a row if its URL was
  ever emitted → seen-filter-prefiltered exact anti-join against ``url_seen``;
- per-WARC (src/warc_processor.py:345-361): duplicates allowed across WARCs,
  first record wins within one → :func:`first_wins` over (warc_source, url);
- domain-first-wins (examples/bulk_warc_search.py:178-188): one result per
  domain, earliest wins → window over domain.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.bloom import BLOOM


def first_wins(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Deterministic first-wins dedupe (the order-sensitive analog of the
    reference's 'if url not in seen: seen.add(url)' insertion order)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame | None,
    filters: DataFrame | None = None,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    probe=None,
) -> DataFrame:
    """Rows of ``candidates`` whose key is NOT in ``seen`` — exactly.

    With a seen filter: probe first; probe-negative rows are provably
    unseen and bypass the anti-join (at a 10^10-row seen table this is the
    difference between shuffling the whole frontier and shuffling only the
    ~few %% of positives). Positive rows are confirmed exactly, so false
    positives never drop a URL and a filter delete never resurrects one.
    ``probe`` is the form's probe (``SeenFilter.probe_broadcast`` or
    ``probe_cogroup``); without it ``filters`` is a Bloom table probed
    cogrouped, which runs no job until the result is.

    ``seen`` must expose ``key_col``; candidates carrying a null key are
    dropped (unparseable URLs can never be scheduled).
    """
    cand = candidates.where(F.col(key_col).isNotNull())
    if seen is None:
        return cand
    seen_keys = seen.select(key_col)
    if filters is None:
        return cand.join(seen_keys, key_col, "left_anti")
    probe = probe or BLOOM.probe_cogroup
    probed = probe(cand, filters, key_col, cfg)
    definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen_keys, key_col, "left_anti")
    return definitely_new.unionByName(confirmed_new)


@dataclass
class UnseenResult:
    unseen: DataFrame  # exact; carries a ``bucket`` column
    probed: DataFrame  # cached — caller unpersists after the round
    maybe_buckets: list[int]  # buckets with ≥1 Bloom positive
    maybe_rows: int  # probe-positive rows, i.e. the exact confirm join's input


def filter_unseen_pruned(
    candidates: DataFrame,
    seen: DataFrame,
    blooms: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    total_bits: int | None = None,
    probe=None,
) -> UnseenResult:
    """The frontier-loop variant of :func:`filter_unseen`: exact, with the
    seen side *pruned to probe-positive buckets* before the anti-join.

    The unseen stage is filter-form agnostic: ``probe=`` takes a form's
    probe (``SeenFilter.probe_broadcast`` / ``probe_cogroup``, e.g.
    ``CUCKOO.probe_broadcast`` with the cuckoo table as ``blooms``) and
    yields the identical exact unseen set, because correctness lives in
    the confirm join, not the filter. Without ``probe=``, ``blooms`` is a
    Bloom table and :meth:`SeenFilter.probe_for` picks the probe: the
    broadcast codegen probe while the filter set fits
    cfg.bloom_broadcast_max_bytes, the cogrouped per-bucket probe beyond
    (no single place ever holds the whole filter). ``total_bits`` is the
    size hint stored with the blooms version (piggybacked on the previous
    round's write, zero jobs); without it, one aggregate job over the
    B-row table measures it.

    ``seen`` must carry a ``bucket`` column (seenfilter.bucket_of, written
    bucket-sorted): the ``bucket IN (...)`` predicate pushes down to
    parquet row-group stats — the Iceberg ``bucket(B, surt)`` partition-
    pruning analog. At a 10^10-row seen table this is what keeps the
    confirm join from shuffling the whole table when only a few buckets
    have positives (early rounds: most candidates are probe-negative and
    skip the join entirely). The bucket ids come from one collect of
    per-bucket positive counts, whose sum is ``maybe_rows``.

    ``probed`` is cached here because BOTH output branches (definitely-new
    ∪ confirmed-new) read it — without the cache the candidate subtree
    (window dedupe + filter probe) would execute twice per action, and
    any Observation planted upstream would double-fire.
    """
    cand = candidates.where(F.col(key_col).isNotNull())
    if probe is None:
        probe = BLOOM.probe_for(blooms, cfg, total_bits)
    probed = probe(cand, blooms, key_col, cfg, bucket_out="bucket").persist()
    # one job: the ≤ B positive buckets with their row counts
    per_bucket = probed.where(F.col("_maybe_seen")).groupBy("bucket").count().collect()
    maybe_buckets = [r["bucket"] for r in per_bucket]
    definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    if maybe_buckets:
        seen_keys = seen.select("bucket", key_col).where(
            F.col("bucket").isin(maybe_buckets)
        )
        confirmed_new = (
            probed.where(F.col("_maybe_seen"))
            .drop("_maybe_seen")
            .join(seen_keys, ["bucket", key_col], "left_anti")
        )
        unseen = definitely_new.unionByName(confirmed_new)
    else:
        unseen = definitely_new
    return UnseenResult(
        unseen=unseen, probed=probed, maybe_buckets=maybe_buckets,
        maybe_rows=sum(r["count"] for r in per_bucket),
    )


def dedupe_domain_first_wins(results: DataFrame, order: list[Column]) -> DataFrame:
    """EP3 policy: one row per domain, earliest by ``order`` wins."""
    return first_wins(results, ["domain"], order)


def merge_runs(a: DataFrame, b: DataFrame, key: str = "domain") -> DataFrame:
    """Result merge across runs — the documented jq recipe
    ``jq -s 'add | unique_by(.domain)'`` (reference COMPARISON.md:270-274)."""
    return a.unionByName(b, allowMissingColumns=True).dropDuplicates([key])
