"""SparkSession factory tuned for this engine.

Local mode here stands in for a multi-executor cluster: every knob is
chosen so the same code runs unchanged under ``spark-submit --py-files``
on a real cluster (AQE on, explicit shuffle-partition sizing, Arrow on for
the UDF stages, UTC pinned for oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to the core count (local rule of thumb);
        on a real cluster this scales with executor count instead.
    """
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    n = cores if cores is not None else (int(env_cores) if env_cores else None)
    master = f"local[{n}]" if n else "local[*]"
    shuffle = shuffle_partitions if shuffle_partitions else (n or os.cpu_count() or 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is measured on COMPRESSED shuffle bytes;
        # frontier rows (url/surt/host, ~60B raw) compress ~6×, so the 1 MB
        # default floor collapses a 100 MB stage to ~10 partitions and caps
        # the whole loop's parallelism below the core count. 128k keeps
        # post-shuffle parallelism ≈ cluster width for small-row payloads;
        # at real scale partitions never get near the floor, so it's inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Size Arrow batches by BYTES, not habit: with multi-KB text rows,
        # 10k-row (~40 MB) batches hit a pathological cliff in the
        # JVM→worker pipeline (measured 24× slower than 4 MB batches on a
        # trivial UDF); ~2k rows keeps batches in the single-digit-MB
        # sweet spot for page-sized payloads while costing nothing for
        # small rows.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Local mode: driver == executor, so this is the whole JVM. The
        # frontier loop persists the page-lookup + links tables plus
        # per-round caches; an 8 GB heap evicts them and every broadcast
        # build silently re-executes the window/join chains it was meant
        # to reuse (measured: >60% of round CPU). Size for the caches.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static: set before the session starts).
        # The frontier is an iterative loop that re-plans the same
        # DataFrame program every round; one round touches about 130
        # generated classes, and a round → retract → round episode about
        # 180. With the default 100 entries the LRU evicted each class
        # before the next round asked for it again, so every steady-state
        # round recompiled 119-131 classes with Janino (about 0.45 s, and
        # churn in the JIT code cache). 1000 holds several episodes'
        # working set; a steady-state round then compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
