"""A steady-state round's fixed cost: the seen-filter update fed from the
round's in-memory delta (and its overflow rebuild), the schemas the store
reuses instead of inferring, and the codegen cache that keeps a repeated
round from recompiling its generated classes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig, PolitenessConfig
from crawler_spark.frontier import FrontierCrawler
from crawler_spark.operators.cuckoo import probe_cuckoo_broadcast
from crawler_spark.operators.dedup import filter_unseen_pruned
from crawler_spark.sources.corpus import (
    generate_links,
    generate_pages,
    generate_robots,
    generate_seeds,
)
from crawler_spark.sources.tables import SnapshotStore
from tests.oracle_crawl import oracle_crawl
from tests.test_frontier import _oracle_inputs

# Two buckets and a wide round 2: round 1 seals 11 seeds, so both
# buckets are created small (16 cuckoo buckets / 256 Bloom bits, room for
# 53 / 25 keys), and round 2's 101 newly seen links overflow bucket 0 in
# both filter forms (bucket 1 only in the Bloom form).
N_PAGES = 800
N_SEEDS = 12
BUDGET = 80
ROUNDS = 2
CFG = EngineConfig(
    num_host_buckets=2, skew_threshold=10_000, skew_salts=4, max_retry_attempts=3,
    politeness=PolitenessConfig(rate_per_s=2.0, burst=5, round_duration_s=30),
)
BLOB = {"cuckoo": "slots", "bloom": "bits"}


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(spark, N_PAGES, num_warcs=3).cache()
    links = generate_links(spark, N_PAGES, avg_fanout=14).cache()
    seeds = generate_seeds(spark, N_SEEDS, N_PAGES).cache()
    robots = generate_robots(spark, pages).cache()
    for df in (pages, links, seeds, robots):
        df.count()
    yield pages, links, seeds, robots
    for df in (pages, links, seeds, robots):
        df.unpersist()


@pytest.fixture(scope="module")
def crawls(spark, corpus, tmp_path_factory):
    """One crawl per filter form, on its own store."""
    pages, links, seeds, robots = corpus
    out = {}
    for mode in ("cuckoo", "bloom"):
        store = SnapshotStore(str(tmp_path_factory.mktemp(mode)))
        crawler = FrontierCrawler(
            spark, store, pages, links=links, robots=robots, cfg=CFG,
            budget=BUDGET, seen_mode=mode,
        )
        crawler.init_from_seeds(seeds)
        out[mode] = (store, crawler, crawler.run(ROUNDS, from_round=0))
        crawler.close()
    return out


@pytest.mark.spark
@pytest.mark.parametrize("mode", ["cuckoo", "bloom"])
def test_overflow_rebuild_leaves_exact_filters(spark, corpus, crawls, mode):
    """Round 2's delta overflows buckets sized by round 1. The rebuild
    from the exact table leaves no NULL blob behind, and the seen and
    unseen sets equal the oracle's."""
    store, crawler, metrics = crawls[mode]
    ftable, blob = crawler._ftable, BLOB[mode]
    assert len(metrics) == ROUNDS
    # the overflow path ran: round 2 wrote a version with NULL blobs,
    # then the rebuilt one
    r2 = [v.version for v in store.versions(ftable) if v.meta.get("round") == 2]
    nulls = [
        store.read(spark, ftable, version=v).where(F.col(blob).isNull()).count()
        for v in r2
    ]
    assert len(r2) == 2 and nulls[0] > 0 and nulls[1] == 0, (r2, nulls)
    # an overflowed version carries no size hint; the rebuilt one does
    key = "total_slot_bytes" if mode == "cuckoo" else "total_bits"
    assert key not in store.meta(ftable, r2[0]) and store.meta(ftable, r2[1])[key] > 0
    filters = store.read(spark, ftable)
    assert filters.where(F.col(blob).isNull()).count() == 0

    seed_list, page_urls, link_map, robot_map = _oracle_inputs(*corpus)
    _, seen_expect, _ = oracle_crawl(
        seed_list, page_urls, link_map, robot_map, BUDGET, CFG.max_retry_attempts, ROUNDS
    )
    seen = store.read(spark, "url_seen")
    assert {r["surt"] for r in seen.collect()} == seen_expect

    # the unseen verdict the next round would get from these filters
    frontier = store.read(spark, "frontier")
    ur = filter_unseen_pruned(
        frontier, seen, filters, cfg=crawler._rcfg(),
        total_bits=store.meta(ftable).get("total_bits"),
        probe=probe_cuckoo_broadcast if mode == "cuckoo" else None,
    )
    got = {r["surt"] for r in ur.unseen.select("surt").collect()}
    ur.probed.unpersist()
    assert got == {r["surt"] for r in frontier.select("surt").collect()} - seen_expect


@pytest.mark.spark
@pytest.mark.parametrize("mode", ["cuckoo", "bloom"])
def test_read_schema_equals_inferred_for_every_crawl_table(spark, crawls, mode):
    """Every version of every table a crawl writes reads back with the
    schema Spark infers from the files, and from the remembered schema
    (no inference job) in the store that wrote it."""
    store, crawler, _ = crawls[mode]
    tables = ("frontier", "url_seen", crawler._ftable, "results", "failures", "metrics")
    for t in tables:
        manifest = store._read_manifest(t)
        for entry in manifest["versions"]:
            segments = entry["segments"]
            assert all(store._known_schema(p) is not None for p in segments), (t, entry)
            got = store.read(spark, t, version=entry["version"]).schema
            assert got == spark.read.parquet(*segments).schema, (t, entry["version"])
    # a second store on the same root infers, and reads the same rows
    other = SnapshotStore(store.root)
    for t in tables:
        assert other.read(spark, t).schema == store.read(spark, t).schema
        assert other.read(spark, t).count() == store.read(spark, t).count()


def _episode(spark, corpus, root) -> int:
    """init → round 1 → retract two seen URLs → round 2, on a fresh store;
    returns the Janino compiles it caused."""
    pages, links, seeds, robots = corpus
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    store = SnapshotStore(root)
    crawler = FrontierCrawler(
        spark, store, pages, links=links, robots=robots, cfg=CFG,
        budget=BUDGET, seen_mode="cuckoo",
    )
    crawler.init_from_seeds(seeds)
    crawler.run(1, from_round=0)
    victims = [r["url"] for r in store.read(spark, "url_seen").orderBy("surt").limit(2).collect()]
    assert crawler.retract(spark.createDataFrame([(u,) for u in victims], "url string")) == 2
    crawler.run(1, from_round=1)
    crawler.close()
    return codegen.METRIC_COMPILATION_TIME().getCount() - before


@pytest.mark.spark
def test_repeated_episode_compiles_nothing(spark, corpus, tmp_path):
    """The codegen cache holds an episode's working set: the third
    identical episode in one session compiles no class."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
    compiles = [_episode(spark, corpus, str(tmp_path / f"ep{i}")) for i in range(3)]
    assert compiles[2] == 0, compiles
