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
- cross-batch dedupe state is a compact (warc_source, url, bucket) key
  table + per-bucket Bloom sidecars in a SnapshotStore next to the
  output. Batch results are Bloom-probed JVM-side (broadcast, bounded
  blob bytes); definitely-new rows skip the seen table entirely, and
  only Bloom-positive rows run the exact confirm anti-join, against just
  their buckets (partition-pruned). The previous design re-read and
  distinct-ed the ENTIRE output per micro-batch — O(total emitted
  so far) work per batch, forever growing; this one reads O(bloom
  bytes + candidate buckets);
- all state tables commit atomically per batch (SnapshotStore
  commit_state); a replayed already-committed batch is detected by its
  batch_id and skipped, and a half-written batch is rolled back by
  restore_state. Unexpected state-read errors PROPAGATE (failing the
  batch so the checkpoint retries) instead of being swallowed;
- batch ids restart at 0 per checkpoint directory, so the replay skip is
  only valid for the stream that wrote the state: state.json records the
  checkpoint's query id (``<checkpoint>/metadata``) and a mismatch fails
  fast instead of silently dropping a fresh checkpoint's first batches;
- a crash BEFORE the very first commit_state leaves orphaned seen/blooms
  tables with no state.json; replaying batch 0 against them would make
  its own keys probe as already-seen (silent loss), so the sink resets
  orphaned tables when no committed state exists;
- history metrics ride the batch's own jobs: confirm rows fold into the
  bounded bucket-pruning aggregation, emitted rows ride the seen-table
  write as an ``Observation`` — no standalone count jobs per batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.bloom import (
    BLOOM_SCHEMA,
    probe_blooms_broadcast,
    update_blooms,
)
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
            # No committed state: any existing seen/blooms tables are
            # orphans of a crash before the first commit_state — replaying
            # batch 0 against them would suppress its own keys. Reset.
            for t in ("seen", "blooms"):
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

        res = classify_bulk(batch_df, min_confidence=min_confidence).localCheckpoint()

        confirm_rows = 0
        confirm_buckets: list[int] = []
        if store.exists("seen"):
            blooms = store.read(spark, "blooms")
            probed = probe_blooms_broadcast(
                res.withColumn("_k", _key_col()), blooms, key_col="_k", cfg=cfg,
                bucket_out="_bkt",
            ).localCheckpoint()
            fresh = probed.where(~F.col("_maybe_seen"))
            maybe = probed.where(F.col("_maybe_seen"))
            # exact confirm for Bloom positives only, pruned to their
            # buckets; bucket ids AND the confirm-rows metric come out of
            # this one bounded aggregation job (collects ≤
            # num_host_buckets rows) — no standalone count job
            bucket_rows = (
                maybe.groupBy("_bkt").agg(F.count(F.lit(1)).alias("n")).collect()
            )
            confirm_buckets = [r["_bkt"] for r in bucket_rows]
            confirm_rows = int(sum(r["n"] for r in bucket_rows))
            if confirm_buckets:
                seen = store.read(spark, "seen").where(
                    F.col("bucket").isin(confirm_buckets)
                )
                maybe = maybe.join(seen, ["warc_source", "url"], "left_anti")
                res = fresh.unionByName(maybe)
            else:
                res = fresh
            res = res.drop("_k", "_maybe_seen", "_bkt")

        # idempotent delta write: a replay overwrites the same directory
        batch_dir = f"{out_dir}/batch={batch_id}"
        res.write.mode("overwrite").parquet(batch_dir)

        # fold the committed delta's keys into seen + blooms, then commit
        # all tables atomically; a crash before commit_state rolls back
        obs_emit = Observation()
        new_keys = (
            spark.read.parquet(batch_dir)
            .select("warc_source", "url")
            .withColumn("_k", _key_col())
            .withColumn("bucket", bucket_of("_k", cfg))
            .observe(obs_emit, F.count(F.lit(1)).alias("emitted"))
        )
        seen_v = store.write(
            "seen", new_keys.select("warc_source", "url", "bucket"), append=True
        )
        # the seen write is the action the metric rides on
        emitted = int(obs_emit.get["emitted"])
        prev_blooms = (
            store.read(spark, "blooms")
            if store.exists("blooms")
            else spark.createDataFrame([], BLOOM_SCHEMA)
        )
        blooms_v = store.write(
            "blooms", update_blooms(prev_blooms, new_keys, key_col="_k", cfg=cfg)
        )
        history = state.get("history", [])
        history.append(
            {
                "batch_id": batch_id,
                "emitted": emitted,
                "confirm_rows": confirm_rows,
                "confirm_buckets": len(confirm_buckets),
            }
        )
        store.commit_state(
            {
                "last_batch_id": batch_id,
                "stream_id": sid if sid is not None else state_sid,
                "tables": {"seen": seen_v, "blooms": blooms_v},
                "history": history,
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
