"""Structured-Streaming ingest: incremental arrival matches the batch
flagship run; event-time windowed counts with watermark."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT
from crawler_spark.operators.bloom import BLOOM
from crawler_spark.plans.flagship import classify_bulk
from crawler_spark.sources.corpus import generate_pages
from crawler_spark.sources.tables import SnapshotStore
from crawler_spark.streaming.ingest import stream_classify, stream_confidence_counts

N = 3000


def _history(spark, out):
    """The sink's per-batch metrics rows, in batch order."""
    rows = SnapshotStore(out + "_state").read(spark, "history").orderBy("batch_id")
    return [r.asDict() for r in rows.collect()]


@pytest.fixture(scope="module")
def staged_corpus(spark, tmp_path_factory):
    """The corpus split into two arrival waves (file groups)."""
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    all_pages = generate_pages(spark, N, partitions=4).cache()
    all_pages.where(F.col("warc_offset") < N // 2).write.parquet(f"{src}/wave=0")
    yield root, src, all_pages
    all_pages.unpersist()


@pytest.mark.spark
def test_incremental_arrival_matches_batch(spark, staged_corpus):
    root, src, all_pages = staged_corpus
    out, ckpt = str(root / "out"), str(root / "ckpt")

    # wave 1 arrives → drain
    q = stream_classify(spark, f"{src}/wave=*", out, ckpt)
    q.awaitTermination(300)

    # wave 2 arrives → drain again (same checkpoint: only new files read)
    all_pages.where(F.col("warc_offset") >= N // 2).write.parquet(f"{src}/wave=1")
    q = stream_classify(spark, f"{src}/wave=*", out, ckpt)
    q.awaitTermination(300)

    got = {
        (r["warc_source"], r["url"], r["confidence"])
        for r in spark.read.parquet(out).collect()
    }
    expect = {
        (r["warc_source"], r["url"], r["confidence"])
        for r in classify_bulk(all_pages, min_confidence="medium").collect()
    }
    assert got == expect


@pytest.mark.spark
def test_streaming_no_duplicate_emissions(spark, staged_corpus):
    root, src, _ = staged_corpus
    out, ckpt = str(root / "out2"), str(root / "ckpt2")
    q = stream_classify(spark, f"{src}/wave=*", out, ckpt)
    q.awaitTermination(300)
    res = spark.read.parquet(out)
    assert res.count() == res.select("warc_source", "url").distinct().count()


@pytest.mark.spark
def test_event_time_windowed_counts(spark, staged_corpus):
    root, src, all_pages = staged_corpus
    agg = stream_confidence_counts(spark, f"{src}/wave=*", window="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("conf_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select sum(n) as n from conf_counts").collect()[0]["n"]

    from crawler_spark.plans.flagship import content_sniff_html
    from crawler_spark.functions.detector import detect_udf

    expect = (
        all_pages.where(F.col("rec_type") == "response")
        .where(content_sniff_html(F.col("text")))
        .select(detect_udf(F.col("text")).alias("d"))
        .where(F.col("d.is_nextjs"))
        .count()
    )
    assert got == expect
    # window boundaries are 10-minute aligned
    for r in spark.sql("select window_start, window_end from conf_counts").collect():
        assert r["window_start"].minute % 10 == 0 and r["window_start"].second == 0


@pytest.mark.spark
def test_cross_batch_state_is_bounded_and_exact(spark, tmp_path):
    """The exactly-once sink must NOT do O(total-emitted) work per batch:
    unique batches confirm ~nothing against the seen table (bloom-negative
    fast path), duplicate re-arrivals are suppressed via the confirm join,
    and a replayed committed batch is a no-op."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 2000, partitions=2).cache()
    w0 = pages.where(F.col("warc_offset") < 1000)
    w1 = pages.where(F.col("warc_offset") >= 1000)
    state_json = f"{out}_state/state.json"

    w0.write.parquet(f"{src}/wave=0")
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    state_bytes_0 = os.path.getsize(state_json)
    w1.write.parquet(f"{src}/wave=1")
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    # wave 2 re-delivers wave 0's rows in new files → all duplicates
    w0.write.parquet(f"{src}/wave=2")
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    # the per-batch metrics live in their own table, not in state.json
    assert os.path.getsize(state_json) == state_bytes_0

    hist = _history(spark, out)
    assert [h["batch_id"] for h in hist] == [0, 1, 2]
    # batch 1 is all-new: the exact confirm join saw at most bloom-FP rows
    assert hist[1]["confirm_rows"] <= max(3, hist[1]["emitted"] // 20)
    # batch 2 is all-duplicate: confirm caught them, nothing emitted
    assert hist[2]["emitted"] == 0 and hist[2]["confirm_rows"] > 0

    res = spark.read.parquet(out)
    assert res.count() == res.select("warc_source", "url").distinct().count()
    expect = classify_bulk(pages, min_confidence="medium").count()
    assert res.count() == expect

    # pairing committed state with a FRESH checkpoint must fail fast:
    # batch ids restart at 0 per checkpoint, so the replay skip would
    # silently drop a new stream's first batches (ADVICE r2)
    before = res.count()
    from pyspark.errors import StreamingQueryException

    q = stream_classify(spark, f"{src}/wave=*", out, str(tmp_path / "ckpt2"))
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    assert spark.read.parquet(out).count() == before  # nothing overwritten
    pages.unpersist()


@pytest.mark.spark
def test_first_batch_crash_does_not_lose_batch_zero(spark, tmp_path):
    """A crash between the seen/blooms writes and the FIRST commit_state
    leaves orphaned tables with no state.json; on replay batch 0's own keys
    must not probe as already-seen (which would overwrite out/batch=0 with
    an empty dir — silent permanent loss, ADVICE r2)."""
    from crawler_spark.config import DEFAULT
    from crawler_spark.operators.bloom import BLOOM_SCHEMA, update_blooms
    from crawler_spark.sources.tables import SnapshotStore
    from crawler_spark.streaming.ingest import _key_col

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    pages = generate_pages(spark, 500, partitions=2)
    pages.write.parquet(f"{src}/wave=0")

    # simulate the crashed first attempt: seen + blooms committed for
    # exactly batch 0's keys, state.json never written
    store = SnapshotStore(out + "_state")
    keys = (
        classify_bulk(pages, min_confidence="medium")
        .select("warc_source", "url")
        .withColumn("_k", _key_col())
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("_k"), F.lit(DEFAULT.num_host_buckets)).cast("int"),
        )
    )
    store.write("seen", keys.select("warc_source", "url", "bucket"))
    empty = spark.createDataFrame([], BLOOM_SCHEMA)
    store.write("blooms", update_blooms(empty, keys, key_col="_k", cfg=DEFAULT))
    assert store.read_state() is None  # the crash window

    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    got = spark.read.parquet(out).count()
    expect = classify_bulk(pages, min_confidence="medium").count()
    assert got == expect and got > 0


@pytest.mark.spark
def test_sink_runs_no_standalone_count_jobs(spark, tmp_path, monkeypatch):
    """History metrics must ride the batch's own jobs as Observations —
    DataFrame.count must never be called inside the sink (VERDICT r2 #7)."""
    from pyspark.sql import DataFrame

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    pages = generate_pages(spark, 500, partitions=2)
    pages.write.parquet(f"{src}/wave=0")

    calls: list[int] = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: (calls.append(1), orig(self))[1]
    )
    # wave 0 (no-seen path), then the same rows again (probe+confirm path)
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    pages.write.parquet(f"{src}/wave=1")
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    n_during = len(calls)
    monkeypatch.undo()

    assert n_during == 0
    # and the metrics still got recorded correctly
    hist = _history(spark, out)
    assert hist[0]["emitted"] > 0 and hist[1]["emitted"] == 0
    assert hist[1]["confirm_rows"] > 0


@pytest.mark.spark
def test_overflowed_bloom_bucket_is_rebuilt(spark, tmp_path):
    """One bucket, three waves whose emitted key counts grow more than 4×
    each time: every wave overflows the bucket's Bloom filter (built with
    4× headroom). The sink must rebuild it from the exact seen rows in the
    same batch; a NULL blob would probe all-maybe for the rest of the
    stream and send every later key through the exact confirm join."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    cfg = replace(DEFAULT, num_host_buckets=1)
    pages = generate_pages(spark, 3560, partitions=2).cache()
    store = SnapshotStore(out + "_state")
    for i, (lo, hi) in enumerate([(0, 80), (80, 560), (560, 3560)]):
        wave = pages.where((F.col("warc_offset") >= lo) & (F.col("warc_offset") < hi))
        wave.write.parquet(f"{src}/wave={i}")
        stream_classify(spark, f"{src}/wave=*", out, ckpt, cfg=cfg).awaitTermination(300)
        assert store.read(spark, BLOOM.table).where(F.col("bits").isNull()).count() == 0

    emitted = [h["emitted"] for h in _history(spark, out)]
    assert emitted[1] > 4 * emitted[0] > 0 and emitted[2] > 4 * emitted[1]
    res = spark.read.parquet(out)
    assert res.count() == res.select("warc_source", "url").distinct().count()
    got = {(r["warc_source"], r["url"]) for r in res.collect()}
    expect = {
        (r["warc_source"], r["url"])
        for r in classify_bulk(pages, min_confidence="medium").collect()
    }
    assert got == expect
    pages.unpersist()


@pytest.mark.spark
def test_stale_filter_stamp_is_rebuilt_before_probe(spark, tmp_path):
    """Blobs stamped with another hash scheme must not be probed: a
    Bloom table whose stamp is stale is rebuilt from the exact seen rows
    at batch start. Here the stale version's bits are all zero, so
    probing it would call every duplicate definitely new. A restart with
    another bucket count keeps the committed one, because the seen rows
    store bucket ids."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    pages = generate_pages(spark, 500, partitions=2)
    pages.write.parquet(f"{src}/wave=0")
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    assert spark.read.parquet(f"{out}/batch=0").count() > 0

    store = SnapshotStore(out + "_state")
    zeroed = store.read(spark, BLOOM.table).withColumn(
        "bits", F.transform("bits", lambda w: F.lit(0).cast("long"))
    )
    v = store.write(
        BLOOM.table, zeroed,
        meta={**store.meta(BLOOM.table), "hash_version": BLOOM.hash_version - 1},
    )
    state = store.read_state()
    state["tables"][BLOOM.table] = v
    store.commit_state(state)

    pages.write.parquet(f"{src}/wave=1")  # every row a duplicate
    stream_classify(spark, f"{src}/wave=*", out, ckpt).awaitTermination(300)
    assert spark.read.parquet(f"{out}/batch=1").count() == 0
    assert store.meta(BLOOM.table)["hash_version"] == BLOOM.hash_version

    pages.write.parquet(f"{src}/wave=2")
    cfg = replace(DEFAULT, num_host_buckets=8)
    stream_classify(spark, f"{src}/wave=*", out, ckpt, cfg=cfg).awaitTermination(300)
    assert spark.read.parquet(f"{out}/batch=2").count() == 0


@pytest.mark.spark
def test_stream_outlinks_dedupes_within_watermark(spark, tmp_path):
    """stream_outlinks resolves anchors from newly-arrived pages and
    suppresses duplicate dst_urls within the watermark window."""
    import datetime as dt

    from crawler_spark.sources.corpus import PAGES_SCHEMA
    from crawler_spark.streaming.ingest import stream_outlinks

    src = str(tmp_path / "src")
    ts = dt.datetime(2026, 1, 1, 12, 0, 0)
    # both pages link to /shared (dup), each to its own relative page;
    # one mailto (dropped) and one dot-segment ref (resolved)
    rows = [
        (
            "https://h.com/a/p1",
            ts,
            b"",
            '<a href="/shared">s</a><a href="own1.html">o</a>'
            '<a href="mailto:x@y">m</a>',
            "en", "w0", 0, "text/html", 200, "response",
        ),
        (
            "https://h.com/a/p2",
            ts,
            b"",
            '<a href="/shared">s</a><a href="../own2.html">o</a>',
            "en", "w0", 1, "text/html", 200, "response",
        ),
    ]
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(f"{src}/wave=0")

    q = (
        stream_outlinks(spark, f"{src}/wave=*")
        .writeStream.format("memory")
        .queryName("outlinks_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["dst_url"] for r in spark.sql("SELECT * FROM outlinks_mem").collect()
    }
    assert got == {
        "https://h.com/shared",       # emitted ONCE despite two sources
        "https://h.com/a/own1.html",
        "https://h.com/own2.html",    # ../ resolved
    }
