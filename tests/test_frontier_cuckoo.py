"""seen_mode='cuckoo': differential loop equality vs the Bloom form,
plus the retraction capability that justifies cuckoo over Bloom.

The filter is an accelerator, never the truth — so the two modes must
produce IDENTICAL url_seen sets and admitted counts on the same corpus
(the unseen stage's maybe/exact-confirm contract). Retraction is where
they differ mechanically: cuckoo deletes one fingerprint occurrence in
O(1) (operators/cuckoo.delete_cuckoo), Bloom rebuilds the affected
bucket blobs — both must leave the retracted URL schedulable again.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig, PolitenessConfig
from crawler_spark.frontier import FrontierCrawler
from crawler_spark.operators.cuckoo import probe_cuckoo_broadcast
from crawler_spark.sources.corpus import (
    generate_links,
    generate_pages,
    generate_robots,
    generate_seeds,
)
from crawler_spark.sources.tables import SnapshotStore

N_PAGES = 300
N_SEEDS = 20
BUDGET = 6
ROUNDS = 3
CFG = EngineConfig(
    num_host_buckets=8, skew_threshold=200, skew_salts=4, max_retry_attempts=3,
    politeness=PolitenessConfig(rate_per_s=2.0, burst=5, round_duration_s=30),
)


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, N_PAGES, num_warcs=3).cache()
    links = generate_links(spark, N_PAGES, avg_fanout=3).cache()
    seeds = generate_seeds(spark, N_SEEDS, N_PAGES).cache()
    robots = generate_robots(spark, pages).cache()
    for df in (pages, links, seeds, robots):
        df.count()
    yield pages, links, seeds, robots
    for df in (pages, links, seeds, robots):
        df.unpersist()


def _crawl(spark, corpus, tmp_path, name, seen_mode):
    pages, links, seeds, robots = corpus
    store = SnapshotStore(str(tmp_path / name))
    crawler = FrontierCrawler(
        spark, store, pages, links=links, robots=robots, cfg=CFG,
        budget=BUDGET, seen_mode=seen_mode,
    )
    crawler.init_from_seeds(seeds)
    metrics = crawler.run(ROUNDS, from_round=0)
    return store, crawler, metrics


@pytest.mark.spark
def test_cuckoo_mode_matches_bloom_mode(spark, corpus, tmp_path):
    """Identical URL-seen set and per-round admitted/unseen counts —
    the filter form must be invisible to crawl semantics."""
    bs, bc, bm = _crawl(spark, corpus, tmp_path, "bloom_run", "bloom")
    cs, cc, cm = _crawl(spark, corpus, tmp_path, "cuckoo_run", "cuckoo")
    bloom_seen = {
        (r["surt"], r["round"]) for r in bs.read(spark, "url_seen").collect()
    }
    cuckoo_seen = {
        (r["surt"], r["round"]) for r in cs.read(spark, "url_seen").collect()
    }
    assert bloom_seen == cuckoo_seen
    assert [(m.round, m.admitted, m.unseen, m.results) for m in bm] == [
        (m.round, m.admitted, m.unseen, m.results) for m in cm
    ]
    bc.close()
    cc.close()


@pytest.mark.spark
def test_cuckoo_retract_and_readmit(spark, corpus, tmp_path):
    """Loop-level retraction: retract seen URLs → exact table drops
    them, the cuckoo filter deletes their fingerprints in place (no
    rebuild), and a later round re-admits them as unseen."""
    pages, _, _, _ = corpus
    store, crawler, _ = _crawl(spark, corpus, tmp_path, "cuckoo_retract", "cuckoo")
    seen = store.read(spark, "url_seen")
    victims = [
        r["url"]
        for r in seen.join(pages.select("url").distinct(), "url", "left_semi")
        .orderBy("surt")
        .limit(2)
        .collect()
    ]
    assert len(victims) == 2
    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    n_before = store.read(spark, "url_seen").count()
    filters_before = {
        r["bucket"]: r["n"] for r in store.read(spark, "cuckoo").collect()
    }

    assert crawler.retract(vdf) == 2
    after = store.read(spark, "url_seen")
    assert after.count() == n_before - 2
    assert after.join(vdf, "url", "left_semi").count() == 0
    # the filter itself no longer claims them (O(1) fingerprint delete,
    # not a rebuild): probe says definitely-new
    canon = (
        seen.join(vdf, "url", "left_semi").select("surt").distinct()
    )
    probed = probe_cuckoo_broadcast(
        canon, store.read(spark, "cuckoo"), "surt", crawler._rcfg()
    )
    assert [r["_maybe_seen"] for r in probed.collect()] == [False, False]
    # per-bucket live counts decremented, never rebuilt from scratch
    filters_after = {
        r["bucket"]: r["n"] for r in store.read(spark, "cuckoo").collect()
    }
    assert sum(filters_before.values()) - sum(filters_after.values()) == 2

    # re-admission: the retracted URLs re-enter the frontier and are
    # scheduled again (they are unseen now)
    refrontier = crawler._canonical_frontier(vdf, F.lit(9), F.lit(0.0))
    store.write("frontier", refrontier, meta={"round": 98})
    m = crawler.run_round(99)
    assert m.unseen == 2 and m.admitted == 2
    reseen = store.read(spark, "url_seen").where(F.col("round") == 99)
    assert {r["url"] for r in reseen.collect()} == set(victims)
    crawler.close()

    # retracting a never-seen URL is a no-op (cuckoo delete contract:
    # only keys actually inserted are deleted)
    assert crawler.retract(
        spark.createDataFrame([("https://never.example.com/x",)], "url string")
    ) == 0


@pytest.mark.spark
def test_bloom_retract_rebuilds_and_readmits(spark, corpus, tmp_path):
    """Same retraction semantics in Bloom mode — via bucket rebuild."""
    pages, _, _, _ = corpus
    store, crawler, _ = _crawl(spark, corpus, tmp_path, "bloom_retract", "bloom")
    seen = store.read(spark, "url_seen")
    victims = [
        r["url"]
        for r in seen.join(pages.select("url").distinct(), "url", "left_semi")
        .orderBy("surt")
        .limit(2)
        .collect()
    ]
    vdf = spark.createDataFrame([(u,) for u in victims], "url string")
    assert crawler.retract(vdf) == 2
    assert (
        store.read(spark, "url_seen").join(vdf, "url", "left_semi").count() == 0
    )
    refrontier = crawler._canonical_frontier(vdf, F.lit(9), F.lit(0.0))
    store.write("frontier", refrontier, meta={"round": 98})
    m = crawler.run_round(99)
    assert m.unseen == 2 and m.admitted == 2
    crawler.close()


@pytest.mark.spark
def test_cogrouped_probe_matches_broadcast(spark):
    """The cogrouped (beyond-broadcast) probe, the broadcast probe and the
    numpy reference agree bit-for-bit for both forms — on seen and unseen
    keys, on a bucket with no filter row (definitely-new) and on a bucket
    whose blob is NULL (all-maybe)."""
    import numpy as np

    from crawler_spark.operators.bloom import BLOOM
    from crawler_spark.operators.cuckoo import CUCKOO

    cfg = EngineConfig(num_host_buckets=4)
    seen = spark.createDataFrame(
        [(f"com,example)/p/{i}",) for i in range(200)], "surt string"
    )
    seen_keys = {f"com,example)/p/{i}" for i in range(200)}
    cand = spark.createDataFrame(
        [(f"com,example)/p/{i}",) for i in range(150, 350)]
        + [(f"org,new)/q/{i}",) for i in range(40)],
        "surt string",
    )
    hashes = {
        "_b": F.pmod(F.xxhash64("surt"), F.lit(cfg.num_host_buckets)),
        "_h1": F.xxhash64("surt", F.lit(1)),
        "_h2": F.xxhash64("surt", F.lit(2)),
    }
    for form in (BLOOM, CUCKOO):
        # bucket 0 has no filter row, bucket 1 a NULL blob
        filters = (
            form.build(seen, cfg=cfg)
            .where(F.col("bucket") != 0)
            .withColumn(
                form.blob,
                F.when(F.col("bucket") == 1, F.lit(None)).otherwise(F.col(form.blob)),
            )
            .persist()
        )
        blobs = {r["bucket"]: (r[form.size_col], r[form.blob]) for r in filters.collect()}

        def reference(r):
            if int(r["_b"]) not in blobs:
                return False
            size, blob = blobs[int(r["_b"])]
            if blob is None:
                return True
            return bool(
                form.contains(size, blob, np.array([r["_h1"]]), np.array([r["_h2"]]), cfg)[0]
            )

        rows = form.probe_broadcast(cand, filters, "surt", cfg).withColumns(hashes).collect()
        bc = {r["surt"]: r["_maybe_seen"] for r in rows}
        cg = {
            r["surt"]: r["_maybe_seen"]
            for r in form.probe_cogroup(cand, filters, "surt", cfg).collect()
        }
        assert bc == cg, form.table
        assert bc == {r["surt"]: reference(r) for r in rows}, form.table
        buckets = {int(r["_b"]) for r in rows}
        assert {0, 1} <= buckets, buckets  # both edge cases are exercised
        # every actually-seen key in a bucket with a filter row probes maybe
        assert all(
            bc[r["surt"]] for r in rows if r["surt"] in seen_keys and int(r["_b"]) != 0
        ), form.table
        filters.unpersist()


@pytest.mark.spark
def test_cuckoo_cogrouped_loop_matches_broadcast_loop(spark, corpus, tmp_path):
    """Force the beyond-broadcast probe path inside the loop (tiny
    broadcast byte cap) — the crawl must be bit-identical to the
    broadcast-path crawl."""
    from dataclasses import replace

    pages, links, seeds, robots = corpus
    small = replace(CFG, bloom_broadcast_max_bytes=64)  # force cogroup
    store = SnapshotStore(str(tmp_path / "cuckoo_cogroup"))
    crawler = FrontierCrawler(
        spark, store, pages, links=links, robots=robots, cfg=small,
        budget=BUDGET, seen_mode="cuckoo",
    )
    crawler.init_from_seeds(seeds)
    metrics = crawler.run(ROUNDS, from_round=0)
    ref_store, ref_crawler, ref_metrics = _crawl(
        spark, corpus, tmp_path, "cuckoo_bc_ref", "cuckoo"
    )
    got = {(r["surt"], r["round"]) for r in store.read(spark, "url_seen").collect()}
    exp = {
        (r["surt"], r["round"]) for r in ref_store.read(spark, "url_seen").collect()
    }
    assert got == exp
    assert [(m.admitted, m.unseen) for m in metrics] == [
        (m.admitted, m.unseen) for m in ref_metrics
    ]
    crawler.close()
    ref_crawler.close()


@pytest.mark.spark
def test_seen_mode_mismatch_fails_fast(spark, corpus, tmp_path):
    pages, links, seeds, robots = corpus
    store = SnapshotStore(str(tmp_path / "mismatch"))
    c1 = FrontierCrawler(
        spark, store, pages, links=links, robots=robots, cfg=CFG,
        budget=BUDGET, seen_mode="cuckoo",
    )
    c1.init_from_seeds(seeds)
    c1.run(1, from_round=0)
    c1.close()
    c2 = FrontierCrawler(
        spark, store, pages, links=links, robots=robots, cfg=CFG,
        budget=BUDGET, seen_mode="bloom",
    )
    with pytest.raises(ValueError, match="seen_mode"):
        c2.resume()
    with pytest.raises(ValueError, match="unknown seen_mode"):
        FrontierCrawler(spark, store, pages, cfg=CFG, seen_mode="nope")
