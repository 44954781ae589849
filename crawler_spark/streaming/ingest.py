"""Structured-Streaming incremental ingest + classification.

The reference is strictly batch (each run is a finite pass over a path
list, /root/reference/src/warc_processor.py:382-455) — streaming is the
*extension* a continuously-arriving crawl feed needs, per SURVEY §1.3:
"Structured Streaming is optional sugar for incremental ingest".

Design:
- source: a parquet *directory* of pages treated as an unbounded table
  (``spark.readStream``); in production the same plan binds to Kafka/
  Kinesis of WARC pointers — only the source line changes.
- transform: EXACTLY the flagship plan's stages (same content-sniff, same
  Arrow decode+detector, same confidence gate) — the plan is declarative,
  so batch and streaming share it (the point of the DataFrame API).
- per-WARC dedupe is a window over (warc_source, url); windows aren't
  supported in streaming, so the streaming path uses ``foreachBatch`` and
  applies the batch dedupe within each micro-batch PLUS cross-batch
  exactly-once suppression. Cross-batch duplicate suppression therefore
  matches the batch flagship run (verified in tests/test_streaming.py).
- watermark/event-time: a late-data variant aggregates detections per
  (10-min warc_ts tumbling window × confidence) with a watermark — the
  shape a live crawl monitor needs.

Exactly-once design (per-batch work bounded, NOT O(total emitted)):

- each batch writes its own idempotent delta dir ``out/batch=<id>`` with
  mode=overwrite — a checkpoint replay of the same batch overwrites the
  same directory, so a crash between the output write and the state
  commit can never duplicate output rows;
- cross-batch dedupe state is a (warc_source, url, bucket) key table
  ``seen`` plus per-bucket Bloom blobs in a SnapshotStore next to the
  output. Each batch goes through the frontier's unseen stage,
  ``dedup.filter_unseen_pruned``, keyed on ``warc_source \x00 url``
  (derived on read): the Bloom probe (broadcast or cogrouped, gated by
  the stored size hint), then the exact confirm anti-join for probe
  positives only, against just their buckets of ``seen`` — O(bloom
  bytes + candidate buckets) per batch, not O(total emitted);
- the blobs' upkeep is the frontier's too: ``SeenFilter.write`` folds in
  each batch's keys, stamps the version and rebuilds any overflowed
  bucket from ``seen`` (a bucket never stays all-maybe), and at batch
  start ``SeenFilter.refresh`` rebuilds the blobs when the stamp is stale
  or missing (blobs of an old hash scheme give false negatives). The
  bucket count is pinned in the committed state: ``seen`` stores bucket
  ids;
- all state tables commit atomically per batch (SnapshotStore
  commit_state); a replayed already-committed batch is detected by its
  batch_id and skipped, and a half-written batch is rolled back by
  restore_state. Unexpected state-read errors PROPAGATE (failing the
  batch so the checkpoint retries) instead of being swallowed;
- batch ids restart at 0 per checkpoint directory, so the replay skip is
  only valid for the stream that wrote the state: state.json records the
  checkpoint's query id (``<checkpoint>/metadata``) and a mismatch fails
  fast instead of silently dropping a fresh checkpoint's first batches;
- a crash BEFORE the very first commit_state leaves orphaned state
  tables with no state.json; replaying batch 0 against them would make
  its own keys probe as already-seen (silent loss), so the sink drops
  them when no committed state exists;
- metrics go to the ``history`` table, one row per batch appended
  driver-side and rolled back with the other tables (state.json does not
  grow). They ride the batch's own jobs: confirm rows/buckets come from
  the bucket-prune collect, emitted rows from an ``Observation`` on the
  seen write — no standalone count jobs.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.bloom import BLOOM
from crawler_spark.operators.dedup import filter_unseen_pruned
from crawler_spark.operators.seenfilter import bucket_of
from crawler_spark.plans.flagship import classify_bulk
from crawler_spark.sources.corpus import PAGES_SCHEMA
from crawler_spark.sources.tables import SnapshotStore


def read_pages_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(src_dir)


HISTORY_SCHEMA = "batch_id long, emitted long, confirm_rows long, confirm_buckets long"


def _key_col():
    return F.concat_ws("\x00", "warc_source", "url")


def stream_classify(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_confidence: str = "medium",
    available_now: bool = True,
    state_dir: str | None = None,
    cfg: EngineConfig = DEFAULT,
):
    """Incrementally classify newly-arrived page files into ``out_dir``.

    Returns the StreamingQuery. ``available_now=True`` drains everything
    currently in the source then stops (testable, resumable); False runs
    continuously. Exactly-once per (warc_source, url) across micro-batches
    and across checkpoint replays — see the module docstring for the
    bounded-state design. Read results with
    ``spark.read.parquet(out_dir)`` (each batch is a ``batch=<id>``
    partition).
    """
    pages = read_pages_stream(spark, src_dir)
    store = SnapshotStore(state_dir or out_dir.rstrip("/") + "_state")

    def _stream_id() -> str | None:
        # The checkpoint's stable query id ({checkpoint}/metadata, written
        # at query start) — survives restarts of the same stream, differs
        # for a fresh checkpoint directory.
        try:
            with open(os.path.join(checkpoint_dir, "metadata")) as f:
                return json.load(f).get("id")
        except (OSError, ValueError):
            return None

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        state = store.restore_state()
        if state is None:
            # No committed state: any existing state tables are orphans of
            # a crash before the first commit_state — replaying batch 0
            # against them would suppress its own keys. Reset.
            for t in ("seen", BLOOM.table, "history"):
                if store.exists(t):
                    store.drop(t)
            state = {}
        sid = _stream_id()
        state_sid = state.get("stream_id")
        if state_sid is not None and sid is not None and state_sid != sid:
            raise ValueError(
                "state dir was committed by a different streaming query "
                f"(state stream_id={state_sid}, checkpoint id={sid}); batch "
                "ids restart at 0 per checkpoint, so the replay skip would "
                "silently drop this stream's first batches. Reuse the "
                "original checkpoint dir or start with a fresh state/out dir."
            )
        if state.get("last_batch_id", -1) >= batch_id:
            return  # replay of a batch this stream fully committed → no-op
        # seen rows carry bucket ids: keep the count they were written with
        bcfg = replace(cfg, num_host_buckets=state.get("num_buckets", cfg.num_host_buckets))
        meta = {"batch_id": batch_id, "num_buckets": bcfg.num_host_buckets}

        def read_seen() -> DataFrame:
            return store.read(spark, "seen").withColumn("_k", _key_col())

        res = classify_bulk(batch_df, min_confidence=min_confidence).localCheckpoint()
        ur, confirm = None, (0, 0)
        if store.exists("seen"):
            BLOOM.refresh(store, meta, read_seen, "_k", bcfg)
            ur = filter_unseen_pruned(
                res.withColumn("_k", _key_col()), read_seen(),
                store.read(spark, BLOOM.table), key_col="_k", cfg=bcfg,
                total_bits=store.meta(BLOOM.table).get(BLOOM.size_key),
            )
            res = ur.unseen.drop("_k", "bucket")
            confirm = (ur.maybe_rows, len(ur.maybe_buckets))

        # idempotent delta write: a replay overwrites the same directory
        batch_dir = f"{out_dir}/batch={batch_id}"
        res.write.mode("overwrite").parquet(batch_dir)
        if ur is not None:
            ur.probed.unpersist()

        # fold the committed delta's keys into seen + blooms, then commit
        # all tables atomically; a crash before commit_state rolls back
        obs_emit = Observation()
        new_keys = (
            spark.read.parquet(batch_dir)
            .select("warc_source", "url")
            .withColumn("_k", _key_col())
            .withColumn("bucket", bucket_of("_k", bcfg))
            .observe(obs_emit, F.count(F.lit(1)).alias("emitted"))
        )
        seen_v = store.write(
            "seen", new_keys.select("warc_source", "url", "bucket"), append=True
        )
        # the seen write is the action the metric rides on
        emitted = int(obs_emit.get["emitted"])
        if ur is None:  # first batch: no filter table yet
            blooms = BLOOM.build(new_keys, "_k", bcfg, headroom=4)
        else:
            blooms = BLOOM.update(store.read(spark, BLOOM.table), new_keys, "_k", bcfg)
        blooms_v = BLOOM.write(store, blooms, meta, read_seen, "_k", bcfg)
        history_v = store.write_local(
            "history", [(batch_id, emitted, *confirm)], HISTORY_SCHEMA,
            meta={"batch_id": batch_id}, append=True,
        )
        store.commit_state(
            {
                "last_batch_id": batch_id,
                "stream_id": sid if sid is not None else state_sid,
                "num_buckets": bcfg.num_host_buckets,
                "tables": {"seen": seen_v, BLOOM.table: blooms_v, "history": history_v},
            }
        )

    w = pages.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_confidence_counts(
    spark: SparkSession,
    src_dir: str,
    watermark: str = "30 minutes",
    window: str = "10 minutes",
) -> DataFrame:
    """Event-time monitor: detections per (warc_ts window × confidence)
    with late-data tolerance — returns an unstarted streaming DataFrame
    the caller binds to a sink (memory sink in tests).

    The aggregation is on warc_ts (crawl event time), NOT arrival time;
    the watermark bounds state for the 100 TB/continuous case.
    """
    from crawler_spark.functions.detector import detect_udf
    from crawler_spark.plans.flagship import content_sniff_html

    pages = read_pages_stream(spark, src_dir)
    det = (
        pages.where(F.col("rec_type") == "response")
        .where(content_sniff_html(F.col("text")))
        .select("warc_ts", detect_udf(F.col("text")).alias("d"))
        .where(F.col("d.is_nextjs"))
        .select("warc_ts", F.col("d.confidence").alias("confidence"))
    )
    return (
        det.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "confidence")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "confidence",
            "n",
        )
    )


def stream_outlinks(
    spark: SparkSession,
    src_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental frontier feed: newly-arrived pages → resolved
    outlink candidates, deduplicated within the watermark window.

    Returns an unstarted streaming DataFrame of (src_url, warc_ts,
    dst_url) the caller binds to a sink (the frontier's candidate
    intake). Extraction + RFC 3986 resolution are the same pure-map
    expressions as the batch path (functions/links.py); dedup uses
    ``dropDuplicatesWithinWatermark`` on dst_url so state is BOUNDED by
    the watermark horizon — this is duplicate *suppression* before the
    frontier, not the URL-seen guarantee: exact global dedup remains
    the frontier loop's Bloom-prefiltered anti-join, which this feed
    merely keeps from re-processing the same link thousands of times
    per window (nav links repeat on every page of a host).
    """
    from crawler_spark.functions.links import extract_hrefs, resolve_ref

    pages = read_pages_stream(spark, src_dir).where(
        F.col("rec_type") == "response"
    )
    refs = pages.select(
        "url", "warc_ts", F.explode(extract_hrefs(F.col("text"))).alias("_r")
    )
    out = refs.select(
        F.col("url").alias("src_url"),
        "warc_ts",
        resolve_ref(F.col("url"), F.col("_r")).alias("dst_url"),
    ).where(F.col("dst_url").isNotNull())
    return out.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["dst_url"]
    )
