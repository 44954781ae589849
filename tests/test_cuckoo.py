"""URL-seen filter contract, run over both forms (Bloom and cuckoo): no
false negatives, unknown-bucket and NULL-blob semantics, JVM/numpy
parity, update, delete, and exactness of the probe + confirm."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig
from crawler_spark.operators.bloom import BLOOM
from crawler_spark.operators.cuckoo import CUCKOO
from crawler_spark.operators.dedup import filter_unseen
from crawler_spark.operators.seenfilter import bucket_of

CFG = EngineConfig(num_host_buckets=8)
FORMS = (BLOOM, CUCKOO)
# false-positive bound on fresh keys: ~1% at 10 bits/key; 8 slots of
# 16-bit fingerprints give ~8/2^16
FP_BOUND = {"blooms": 0.05, "cuckoo": 0.01}


def _keys(spark, lo, hi, tag="p"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/"), F.lit(tag)).alias("surt")
    )


@pytest.fixture(scope="module")
def seen(spark):
    df = _keys(spark, 0, 5000).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def filters(spark, seen):
    """Each form's filters over ``seen``, keyed by form table name."""
    out = {f.table: f.build(seen, cfg=CFG).cache() for f in FORMS}
    for df in out.values():
        df.count()
    yield out
    for df in out.values():
        df.unpersist()


@pytest.mark.spark
def test_no_false_negatives(spark, seen, filters):
    """Every inserted key must probe maybe=True — a false negative would
    silently re-crawl (or worse, re-emit) a seen URL."""
    for form in FORMS:
        probed = form.probe_broadcast(seen, filters[form.table], cfg=CFG)
        assert probed.where(~F.col("_maybe_seen")).count() == 0, form.table


@pytest.mark.spark
def test_unknown_bucket_and_fp_rate(spark, seen, filters):
    """A bucket with no filter row is definitely-new; fresh keys in known
    buckets are mostly definitely-new, within the form's FP bound."""
    fresh = _keys(spark, 10_000, 20_000, tag="new")
    for form in FORMS:
        partial = filters[form.table].where(F.col("bucket") != 0)
        probed = form.probe_broadcast(seen, partial, cfg=CFG, bucket_out="b")
        assert probed.where((F.col("b") == 0) & F.col("_maybe_seen")).count() == 0
        fp = form.probe_broadcast(fresh, filters[form.table], cfg=CFG)
        fp = fp.where(F.col("_maybe_seen")).count()
        assert fp / 10_000 < FP_BOUND[form.table], form.table


@pytest.mark.spark
def test_jvm_probe_matches_numpy(spark, seen, filters):
    """The codegen probe and the form's numpy kernel are the same
    arithmetic — any divergence is a correctness bug (false negatives)."""
    mixed = seen.limit(500).unionByName(_keys(spark, 7000, 7500, tag="x"))
    hashes = {
        "_b": F.pmod(F.xxhash64("surt"), F.lit(CFG.num_host_buckets)),
        "_h1": F.xxhash64("surt", F.lit(1)),
        "_h2": F.xxhash64("surt", F.lit(2)),
    }
    for form in FORMS:
        f = filters[form.table]
        rows = form.probe_broadcast(mixed, f, cfg=CFG).withColumns(hashes).collect()
        blobs = {r["bucket"]: (r[form.size_col], r[form.blob]) for r in f.collect()}
        for r in rows:
            size, blob = blobs[int(r["_b"])]
            want = bool(
                form.contains(size, blob, np.array([r["_h1"]]), np.array([r["_h2"]]), CFG)[0]
            )
            assert r["_maybe_seen"] == want, (form.table, r["surt"])


@pytest.mark.spark
def test_delete_then_probe(spark, seen, filters):
    """Deleted keys flip to definitely-new (minus rare FP collisions with
    survivors), NO surviving key becomes a false negative, and the
    per-bucket counts drop by the deleted keys. The cuckoo form removes
    fingerprints; the Bloom form rebuilds the touched buckets from the
    exact rows it is given."""
    deleted = seen.where(F.xxhash64("surt", F.lit(99)) % 10 == 0).cache()
    n_del = deleted.count()
    assert n_del > 100
    survivors = seen.join(deleted, "surt", "left_anti")
    for form in FORMS:
        f2 = form.delete(filters[form.table], deleted, cfg=CFG, seen=survivors).cache()
        probed_surv = form.probe_broadcast(survivors, f2, cfg=CFG)
        assert probed_surv.where(~F.col("_maybe_seen")).count() == 0, form.table
        probed_del = form.probe_broadcast(deleted, f2, cfg=CFG)
        still_maybe = probed_del.where(F.col("_maybe_seen")).count()
        assert still_maybe / n_del < FP_BOUND[form.table], form.table
        n_total = sum(r["n"] for r in f2.collect())
        assert n_total <= 5000 - n_del * 0.95, form.table
        f2.unpersist()
    with pytest.raises(ValueError, match="seen="):
        BLOOM.delete(filters[BLOOM.table], deleted, cfg=CFG)
    deleted.unpersist()


@pytest.mark.spark
def test_update_delta_and_passthrough(spark, seen, filters):
    """update folds a delta in with no false negatives on the union; a
    bucket the delta does not touch passes through unchanged."""
    delta = _keys(spark, 5000, 6000, tag="d")
    delta0 = delta.where(bucket_of("surt", CFG) == 0)
    union = seen.unionByName(delta)
    for form in FORMS:
        f_head = form.build(seen, cfg=CFG, headroom=4).cache()
        f2 = form.update(f_head, delta, cfg=CFG).cache()
        probed = form.probe_broadcast(union, f2, cfg=CFG)
        assert probed.where(~F.col("_maybe_seen")).count() == 0, form.table
        before = {r["bucket"]: r for r in f_head.collect()}
        after = {r["bucket"]: r for r in form.update(f_head, delta0, cfg=CFG).collect()}
        assert after[0]["n"] == before[0]["n"] + delta0.count()
        assert {b: r for b, r in after.items() if b != 0} == {
            b: r for b, r in before.items() if b != 0
        }, form.table
        f_head.unpersist()
        f2.unpersist()


@pytest.mark.spark
def test_overflow_goes_null_all_maybe(spark, seen):
    """A bucket past its capacity emits a NULL blob and probes as
    all-maybe — correctness degrades to the exact join, never drops."""
    big_delta = _keys(spark, 50_000, 80_000, tag="big")
    for form in FORMS:
        f1 = form.build(seen, cfg=CFG, headroom=1)
        f2 = form.update(f1, big_delta, cfg=CFG).cache()
        assert f2.where(F.col(form.blob).isNull()).count() > 0, form.table
        probed = form.probe_broadcast(seen.unionByName(big_delta), f2, cfg=CFG)
        assert probed.where(~F.col("_maybe_seen")).count() == 0, form.table
        f2.unpersist()


@pytest.mark.spark
def test_filter_unseen_exactness(spark, seen, filters):
    """probe + exact confirm == plain anti-join, bit-exactly — the
    filter is an accelerator, never the truth."""
    cand = _keys(spark, 4000, 11_000)  # 1000 seen + 6000 new
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    assert len(want) == 6000
    for form in FORMS:
        got = filter_unseen(
            cand, seen, filters[form.table], cfg=CFG, probe=form.probe_broadcast
        )
        assert {r["surt"] for r in got.collect()} == want, form.table


@pytest.mark.spark
def test_crawl_retraction_flow(spark):
    """The crawl-shaped delete story end-to-end: URLs seen in crawl 1,
    a failed-fetch subset retracted, crawl 2's candidates re-admit
    exactly the retracted + brand-new URLs — set-exact against the
    anti-join truth, with the filter maintained incrementally (build →
    delete → update)."""
    crawl1 = _keys(spark, 0, 3000)
    # 300 fetches failed permanently: retract so the next crawl retries
    failed = crawl1.where(F.xxhash64("surt") % 10 == 3).cache()
    n_failed = failed.count()
    assert n_failed > 100
    seen = crawl1.join(failed, "surt", "left_anti").cache()
    # crawl 2 discovers: overlap with seen, the failed set, fresh URLs
    cand = _keys(spark, 2000, 4000)
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    all_seen = seen.unionByName(cand).distinct()
    for form in FORMS:
        f = form.build(crawl1, cfg=CFG, headroom=4)
        f = form.delete(f, failed, cfg=CFG, seen=seen)
        got = filter_unseen(cand, seen, f, cfg=CFG, probe=form.probe_broadcast)
        assert {r["surt"] for r in got.collect()} == want, form.table
        # fold crawl 2's admissions in incrementally: no false negatives
        # on the union
        f2 = form.update(f, cand.join(seen, "surt", "left_anti"), cfg=CFG)
        assert (
            form.probe_broadcast(all_seen, f2, cfg=CFG).where(~F.col("_maybe_seen")).count()
            == 0
        ), form.table
    failed.unpersist()
    seen.unpersist()


@pytest.mark.spark
def test_pruned_unseen_stage_bloom_cuckoo_equivalence(spark, seen, filters):
    """The frontier's bucket-pruned unseen stage is filter-structure
    agnostic: swapping the cuckoo probe in via probe= yields the
    IDENTICAL exact unseen set as the Bloom pair — correctness lives in
    the confirm join, the filter only prices it."""
    from crawler_spark.operators.dedup import filter_unseen_pruned

    seen_b = seen.withColumn("bucket", bucket_of("surt", CFG))
    cand = _keys(spark, 4500, 9000)
    r_bloom = filter_unseen_pruned(cand, seen_b, filters[BLOOM.table], cfg=CFG)
    r_cuckoo = filter_unseen_pruned(
        cand, seen_b, filters[CUCKOO.table], cfg=CFG, probe=CUCKOO.probe_broadcast
    )
    got_b = {r["surt"] for r in r_bloom.unseen.collect()}
    got_c = {r["surt"] for r in r_cuckoo.unseen.collect()}
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    assert got_b == want and got_c == want
    # the cuckoo's 2^-13 FP rate prunes to no MORE buckets than the
    # Bloom's ~1%% FP rate does on the same candidates
    assert len(r_cuckoo.maybe_buckets) <= len(r_bloom.maybe_buckets)
    r_bloom.probed.unpersist()
    r_cuckoo.probed.unpersist()
