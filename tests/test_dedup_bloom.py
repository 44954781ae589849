"""URL-seen: seen-filter prefilter + exact anti-join — set-exactness
guarantees, run over both filter forms; dedupe policies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig
from crawler_spark.operators.bloom import BLOOM
from crawler_spark.operators.cuckoo import CUCKOO, SLOTS_PER_BUCKET
from crawler_spark.operators.dedup import (
    dedupe_domain_first_wins,
    filter_unseen,
    first_wins,
    merge_runs,
)

CFG = EngineConfig(num_host_buckets=8)
FORMS = (BLOOM, CUCKOO)


@pytest.fixture(scope="module")
def seen(spark):
    df = spark.range(0, 5000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.spark
def test_bloom_no_false_negatives(spark, seen):
    """Every seen key must probe positive through the cogrouped probe —
    a seen filter never lies 'new'."""
    for form in FORMS:
        probed = form.probe_cogroup(seen, form.build(seen, cfg=CFG), cfg=CFG)
        assert probed.where(~F.col("_maybe_seen")).count() == 0, form.table


@pytest.mark.spark
def test_bloom_fp_rate_reasonable(spark, seen):
    fresh = spark.range(100000, 103000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    )
    # Bloom: 10 bits/key, 6 hashes → theoretical fp ~1%; cuckoo ~8/2^16;
    # allow slack
    for form, bound in ((BLOOM, 0.05), (CUCKOO, 0.01)):
        probed = form.probe_cogroup(fresh, form.build(seen, cfg=CFG), cfg=CFG)
        assert probed.where(F.col("_maybe_seen")).count() / 3000 < bound, form.table


@pytest.mark.spark
def test_filter_unseen_exact_with_and_without_bloom(spark, seen):
    """Filtered paths (each form's cogrouped probe, and the size-chosen
    Bloom default) and the plain anti-join path return identical sets —
    false positives are always confirmed away."""
    cand = spark.range(4000, 7000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    )
    expect = {f"com,site{i})/p" for i in range(5000, 7000)}
    assert {r["surt"] for r in filter_unseen(cand, seen, None).collect()} == expect
    blooms = BLOOM.build(seen, cfg=CFG)
    assert {r["surt"] for r in filter_unseen(cand, seen, blooms, cfg=CFG).collect()} == expect
    for form in FORMS:
        got = filter_unseen(
            cand, seen, form.build(seen, cfg=CFG), cfg=CFG, probe=form.probe_cogroup
        )
        assert {r["surt"] for r in got.collect()} == expect, form.table


@pytest.mark.spark
def test_filter_unseen_drops_null_keys(spark, seen):
    cand = spark.createDataFrame([("com,x)/a",), (None,)], "surt string")
    assert filter_unseen(cand, seen, None).count() == 1


@pytest.mark.spark
def test_first_wins_deterministic(spark):
    rows = [("a", "u1", 3), ("a", "u1", 1), ("a", "u1", 2), ("b", "u2", 9)]
    df = spark.createDataFrame(rows, "warc_source string, url string, warc_offset int")
    got = first_wins(df, ["warc_source", "url"], [F.col("warc_offset").asc()]).collect()
    assert {(r["url"], r["warc_offset"]) for r in got} == {("u1", 1), ("u2", 9)}


@pytest.mark.spark
def test_domain_first_wins(spark):
    rows = [("d1", "u1", 1), ("d1", "u2", 2), ("d2", "u3", 5)]
    df = spark.createDataFrame(rows, "domain string, url string, ord int")
    got = dedupe_domain_first_wins(df, [F.col("ord").asc()]).collect()
    assert {r["url"] for r in got} == {"u1", "u3"}


@pytest.mark.spark
def test_merge_runs(spark):
    a = spark.createDataFrame([("d1", "u1")], "domain string, url string")
    b = spark.createDataFrame([("d1", "u9"), ("d2", "u2")], "domain string, url string")
    assert merge_runs(a, b).count() == 2


@pytest.mark.spark
def test_broadcast_probe_matches_cogroup_probe(spark):
    """The pure-JVM broadcast probe and the cogrouped pandas probe must
    agree bit-for-bit on the same serialized filters (same position /
    slot arithmetic), for both forms."""
    seen = spark.createDataFrame(
        [(f"com,example,h{i % 97})/p/{i}",) for i in range(0, 4000, 2)], "surt string"
    )
    cand = spark.createDataFrame(
        [(f"com,example,h{i % 97})/p/{i}",) for i in range(1000, 3000)], "surt string"
    )
    seen_set = {r["surt"] for r in seen.collect()}
    for form in FORMS:
        filters = form.build(seen, cfg=CFG).cache()
        a = {
            (r["surt"], r["_maybe_seen"])
            for r in form.probe_cogroup(cand, filters, cfg=CFG).collect()
        }
        b = {
            (r["surt"], r["_maybe_seen"])
            for r in form.probe_broadcast(cand, filters, cfg=CFG).collect()
        }
        assert a == b, form.table
        # all truly-seen rows flagged maybe (no false negatives) in BOTH
        for surt, maybe in b:
            if surt in seen_set:
                assert maybe, (form.table, surt)
        filters.unpersist()


# bytes per element of each blob column: array<long> / array<int>
BLOB_WIDTH = {"bits": 8, "slots": 4}
# serialized blob bytes at a form's capacity: m bits / nb buckets of
# SLOTS_PER_BUCKET 4-byte slots
BLOB_BYTES = {"bits": lambda m: m // 8, "slots": lambda nb: nb * SLOTS_PER_BUCKET * 4}


def test_required_buckets_keeps_blobs_bounded():
    """Pure math: for each form, the derived bucket count keeps the blob
    the form's own sizing gives an average bucket (with the update
    headroom of 4) under cfg.bloom_max_blob_bytes for any seen-count,
    growing as power-of-two multiples of the configured floor."""
    cfg = EngineConfig(num_host_buckets=64, bloom_max_blob_bytes=16 << 20)
    for form in FORMS:
        prev = 0
        for total in (0, 10**4, 10**6, 10**8, 10**10, 10**12):
            b = form.required_buckets(total, cfg)
            per_bucket = -(-total // b)
            blob = BLOB_BYTES[form.blob](form.size_for(per_bucket, 4, cfg))
            assert blob <= cfg.bloom_max_blob_bytes, (form.table, total, b, blob)
            assert b % cfg.num_host_buckets == 0 and (b // cfg.num_host_buckets) & (
                (b // cfg.num_host_buckets) - 1
            ) == 0  # floor × power of two
            assert b >= prev
            prev = b


@pytest.mark.spark
def test_built_blob_sizes_bounded_across_simulated_growth(spark):
    """Actually build each form's filters at growing key counts with the
    derived bucket count and measure the serialized blobs: every blob
    stays under the ceiling (with hash-imbalance slack), across a growth
    that forces two bucket doublings."""
    from dataclasses import replace

    cfg = EngineConfig(num_host_buckets=4, bloom_max_blob_bytes=4096)
    for form in FORMS:
        for n in (200, 2000, 8000):
            b = form.required_buckets(n, cfg)
            keys = spark.range(n).select(
                F.concat(F.lit("com,ex)/k/"), F.col("id")).alias("surt")
            )
            blobs = form.build(
                keys, cfg=replace(cfg, num_host_buckets=b), headroom=4
            ).collect()
            max_blob = max(BLOB_WIDTH[form.blob] * len(r[form.blob]) for r in blobs)
            assert max_blob <= cfg.bloom_max_blob_bytes * 1.5, (form.table, n, b, max_blob)
        assert form.required_buckets(8000, cfg) > form.required_buckets(200, cfg)
