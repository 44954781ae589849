"""The BFS frontier crawler — the north-rule system.

Reproduces the reference's crawl semantics (seed-order scheduling, global
URL-seen dedupe, politeness budget, retry-with-failure-tracking, resume)
as an iterative batch loop over snapshot tables. All "fetches" are reads
of the materialized ``pages`` table (the crawl is simulated over the
corpus); the reference's HTTP stages map as in SURVEY §3.

Per round (each step one declarative DataFrame op, shuffles noted):

  1. candidates  = frontier, first-wins deduped by surt        [shuffle: surt]
  2. unseen      = Bloom-prefiltered exact anti-join vs seen   [shuffle: bucket; seen side pruned to Bloom-positive buckets]
  3. tagged      = robots verdict + crawl_delay (broadcast join, cached)
  4. admitted/deferred = per-host politeness window, skew-salted [shuffle: host(+salt)]
  5. fetched/missing   = pages scan ⋈ broadcast(admitted)      [no shuffle of the corpus; copy-dedupe window over ~|admitted|]
  6. results    += detector over fetched (one Arrow stage)
  7. failures   += missing (retry ≤ max_attempts, then permanent)
  8. frontier'   = deferred ∪ out-links of fetched (anti-joined next round) ∪ retryable failures
  9. url_seen   += admitted∖retryable (bucket-keyed, bucket-sorted);
     blooms updated INCREMENTALLY from the round delta (O(delta), not O(seen))
 10. atomic round commit (state.json) — kill anywhere before it and resume
     replays the round; after it, the round is durable.

Job economy: one aggregate job (the bucket-prune collect, which also
fills the probed cache and fires the candidate Observation) + the five
table writes + the jobs those trigger: every broadcast exchange (robots,
admitted, fetched urls, filter blobs) is built by a job of its own.
Measured on the benchmark's ``crawl_recrawl`` (cuckoo, 20k pages), a
round runs 17 jobs, or 20 when a filter bucket overflows and is rebuilt
(traced: 18.5 jobs and 27.5 stages per round). Every metric piggybacks
on a write via ``DataFrame.observe`` — no standalone count() jobs,
because at a 10^10-row frontier each count is a full extra pass over the
round's data — and no job is metadata: table reads reuse the schemas the
store wrote, and run()'s drain check reuses the last frontier write's
observation.

Scheduling-order contract (SURVEY §3 EP1 caveat): the reference's emitted
order is thread-nondeterministic; the *scheduled* order is deterministic.
Ours is (round, priority desc, host, surt) — stored on every admitted row,
so any two runs (or a run and the oracle) compare as ordered sequences.

Failure semantics follow the reference's RetryHandler
(src/utils/retry_handler.py:206-299): a failed unit of work is recorded
with a reason and retried up to max_attempts rounds (the 300 s
inter-attempt sleep is politeness-vestigial and not reproduced); only a
permanently-failed URL stops being scheduled.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.functions.detector import confidence_rank, detect_udf
from crawler_spark.functions.url import canonicalize_udf
from crawler_spark.operators.bloom import (
    BLOOM_HASH_VERSION,
    bucket_of,
    build_blooms,
    required_buckets,
    update_blooms,
)
from crawler_spark.operators.cuckoo import (
    CUCKOO_HASH_VERSION,
    build_cuckoo,
    delete_cuckoo,
    probe_cuckoo,
    probe_cuckoo_broadcast,
    update_cuckoo,
)
from crawler_spark.operators.dedup import filter_unseen_pruned, first_wins
from crawler_spark.operators.politeness import admit_per_host
from crawler_spark.operators.robots import (
    budget_from_crawl_delay,
    gate_rfc9309,
    gate_tag,
)
from crawler_spark.sources.tables import SnapshotStore

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("surt", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("failure_count", T.IntegerType()),
    ]
)
_FCOLS = [f.name for f in FRONTIER_SCHEMA.fields]

SEEN_SCHEMA = "bucket int, surt string, url string, host string, round int"

# priority demotion for URLs matching a wired trap template — larger
# than any seed/link priority magnitude, so traps sort after every
# non-trap candidate but remain crawlable (demote, don't drop)
TRAP_PENALTY = 1e12


@dataclass
class RoundMetrics:
    round: int
    candidates: int = 0
    unseen: int = 0
    admitted: int = 0
    deferred: int = 0
    blocked: int = 0
    fetched: int = 0
    missing: int = 0
    results: int = 0
    new_links: int = 0
    next_frontier: int = 0
    max_host_load: int = 0
    salted: bool = False
    seconds: float = 0.0
    trace: dict = None  # per-section wall times (not persisted)

    def row(self) -> tuple:
        return (
            self.round, self.candidates, self.unseen, self.admitted, self.deferred,
            self.blocked, self.fetched, self.missing, self.results, self.new_links,
            self.next_frontier, self.max_host_load, self.salted, float(self.seconds),
        )


METRICS_SCHEMA = (
    "round int, candidates long, unseen long, admitted long, deferred long, "
    "blocked long, fetched long, missing long, results long, new_links long, "
    "next_frontier long, max_host_load long, salted boolean, seconds double"
)


def classify_failure_reason(error_col) -> F.Column:
    """The reference's error-string → FailureReason chain
    (src/utils/retry_handler.py:262-275), as one JVM when-chain over the
    lowered error text. Order matters: timeout before connection/network
    before http/status before parse; anything else is 'unknown'."""
    e = F.lower(error_col)
    return (
        F.when(e.contains("timeout"), "timeout")
        .when(e.contains("connection") | e.contains("network"), "connection_error")
        .when(e.contains("http") | e.contains("status"), "http_error")
        .when(e.contains("parse"), "parse_error")
        .otherwise("unknown")
    )


def fetch_error_string(host_col, url_col) -> F.Column:
    """Deterministic error text for a missed fetch in the simulated crawl.

    A real fetch stage records the transport exception; against a
    materialized corpus the miss context is all there is: an unresolvable
    host (.invalid — the seed generator's planted dead hosts) would have
    failed name resolution (→ connection_error through the classifier),
    anything else resolved but has no such page (→ http_error)."""
    return F.when(
        host_col.endswith(".invalid"),
        F.concat(F.lit("connection error: name resolution failed for "), host_col),
    ).otherwise(F.concat(F.lit("http error: status 404 for "), url_col))


class FrontierCrawler:
    """Iterative BFS crawl over snapshot tables. Resumable."""

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        links: DataFrame | None = None,
        robots: DataFrame | None = None,
        cfg: EngineConfig = DEFAULT,
        budget: int | None = None,
        min_confidence: str = "medium",
        adaptive: bool = False,
        traps: DataFrame | None = None,
        robots_mode: str = "prefix",
        seen_mode: str = "bloom",
    ):
        """adaptive=True enables the AdaptiveRateLimiter semantics
        (reference src/utils/rate_limiter.py:184-207): each round's
        politeness budget derives from a rate that halves after any failed
        fetch and grows ×increase_factor after a fully-successful round —
        computed from the previous round's RoundMetrics and persisted in
        state.json so resume keeps the adapted rate. Default off, matching
        the reference, whose crawler also constructs the plain fixed-rate
        limiter (src/utils/__init__.py exports AdaptiveRateLimiter but
        nothing instantiates it)."""
        self.spark = spark
        self.store = store
        self.pages = pages
        # robots re-enters the plan every round as a broadcast gate; a
        # broadcast is rebuilt per QUERY, so an unpersisted robots df
        # derived from the corpus (e.g. a groupBy over pages) would
        # re-aggregate the whole corpus each round — persist it once
        # (small after distinct). links, by contrast, is consumed by ONE
        # scan-side hash join per round: re-reading the (column-pruned,
        # compressed) parquet is cheaper than pinning a corpus-sized
        # deserialized cache that competes with the round caches for heap
        # and evicts under memory pressure.
        # 'prefix' = the reference-parity Disallow-prefix gate (matches
        # the pure-Python crawl oracle); 'rfc9309' = full wildcard
        # Allow/Disallow matching (functions/robots_parse + gate_rfc9309,
        # robots table shape (host, rules[, crawl_delay]) from
        # robots_rfc9309_from_bodies). Same join shape either way.
        # Validate BEFORE any side effect (persist below), and fail fast
        # on a mode/table-shape mismatch instead of deep inside round 1.
        if robots_mode not in ("prefix", "rfc9309"):
            raise ValueError(f"unknown robots_mode {robots_mode!r}")
        # URL-seen accelerator form (the north rule's "Bloom/cuckoo"):
        # 'bloom' (default) = 10 bits/key, no deletion — retraction
        # rebuilds the affected bucket blobs from the exact table;
        # 'cuckoo' = ~19 bytes/key partial-key filter with O(1) per-key
        # DELETION (operators/cuckoo.delete_cuckoo), so retract() is a
        # per-fingerprint update instead of a rebuild. Either way the
        # exact url_seen table is the membership truth (probe maybe →
        # exact confirm), so the unseen set is identical across modes.
        if seen_mode not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown seen_mode {seen_mode!r}")
        self.seen_mode = seen_mode
        # snapshot-table name for the filter blobs: kept distinct per
        # form so a store written in one mode fails fast when reopened
        # in the other (resume reads meta from the mode's own table)
        self._ftable = "blooms" if seen_mode == "bloom" else "cuckoo"
        if robots is not None:
            need = "rules" if robots_mode == "rfc9309" else "disallow_prefixes"
            if need not in robots.columns:
                raise ValueError(
                    f"robots_mode={robots_mode!r} needs a robots table with "
                    f"a {need!r} column, got {robots.columns}"
                )
        self.robots_mode = robots_mode
        self.links = links
        self.robots = robots.persist() if robots is not None else None
        self.cfg = cfg
        self.budget = budget if budget is not None else cfg.politeness.budget_per_round
        self.min_confidence = min_confidence
        self.adaptive = adaptive
        # trap-template table (host, template[, is_trap]) — e.g.
        # trap_detect output from the previous crawl; default off (no
        # demotion), same opt-in pattern as the adaptive limiter. Only
        # rows flagged is_trap demote (trap_detect emits EVERY template
        # with ≥2 URLs; demoting all of them would invert the ordering
        # on normal hosts). Broadcast per insert, so persist the deduped
        # (host, template) projection once — not the raw table, which
        # would redo the distinct shuffle on every insert.
        if traps is not None:
            t = traps.where(F.col("is_trap")) if "is_trap" in traps.columns else traps
            self.traps = t.select("host", "template").distinct().persist()
        else:
            self.traps = None
        # rate in request/s units (the reference's limiter currency); the
        # round budget is always burst + rate·round_duration
        self._rate = max(
            0.0, (self.budget - cfg.politeness.burst) / cfg.politeness.round_duration_s
        )
        self._last_max_host: int | None = None
        # Bucket layout scales with the seen table: cfg.num_host_buckets is
        # the floor; required_buckets doubles it as the running seen count
        # grows so per-bucket bloom blobs stay ≤ cfg.bloom_max_blob_bytes.
        self._num_buckets = cfg.num_host_buckets
        self._seen_total = 0
        # (frontier version, its row count) as last observed by this
        # object's own writes: run()'s drain check needs no job while the
        # table's current version is still that one
        self._frontier_rows: tuple[int, int] | None = None
        # Fetch side: a column-pruned view of the corpus, scanned per round
        # with the (politeness-bounded) admitted set broadcast as the probe.
        # The previous design pre-deduped ALL pages with a global window —
        # one shuffle+cache of the entire text corpus (≈2× corpus bytes
        # moved, corpus-sized heap cache) paid in round 1 and competing
        # with every other cache for memory. Per-round the admitted probe
        # touches ≤ budget×hosts rows, so scan+broadcast-hash is strictly
        # less data motion; the ~5% duplicate copies are deduped AFTER the
        # join (window over ~1.05×|admitted| rows, not the corpus). At
        # 10^10 pages the full scan per round gives way to a pages table
        # bucket-partitioned by url (Iceberg bucket transform → storage-
        # partitioned join); the plan shape is unchanged.
        self._pages_sel = pages.select(
            "url", "text", "warc_source", "warc_offset"
        )

    def close(self) -> None:
        if self.robots is not None:
            self.robots.unpersist()
        if self.traps is not None:
            self.traps.unpersist()

    # ------------------------------------------------------------ setup --
    def _rcfg(self) -> EngineConfig:
        """Round config: the engine config with the CURRENT bucket count
        (dynamic; see required_buckets)."""
        from dataclasses import replace

        return replace(self.cfg, num_host_buckets=self._num_buckets)

    def _bloom_meta(self, round_no: int) -> dict:
        return {
            "round": round_no,
            "hash_version": (
                BLOOM_HASH_VERSION if self.seen_mode == "bloom" else CUCKOO_HASH_VERSION
            ),
            "num_buckets": self._num_buckets,
        }

    def _filter_version(self) -> int:
        return BLOOM_HASH_VERSION if self.seen_mode == "bloom" else CUCKOO_HASH_VERSION

    def _observe_filter(
        self, filters: DataFrame, round_no: int
    ) -> tuple[DataFrame, Observation, Callable[[], dict]]:
        """Piggyback the filter set's size hint (the next round's
        broadcast-vs-cogroup probe gate: total Bloom bits, or total cuckoo
        slot bytes) and its overflowing-bucket count on the write of
        ``filters``. Returns the observed frame, the Observation and a
        meta callable for ``store.write``: the hint is stored only when
        no bucket overflowed (an overflowed version is superseded by the
        rebuild)."""
        if self.seen_mode == "cuckoo":
            blob, key = "slots", "total_slot_bytes"
            size = F.sum(F.coalesce(F.size("slots"), F.lit(0))) * 4
        else:
            blob, key, size = "bits", "total_bits", F.sum("m")
        obs = Observation()
        observed = filters.observe(
            obs,
            size.alias("size"),
            F.sum(F.when(F.col(blob).isNull(), 1).otherwise(0)).alias("overflow"),
        )

        def meta() -> dict:
            vals = obs.get
            if int(vals["overflow"] or 0):
                return self._bloom_meta(round_no)
            return {**self._bloom_meta(round_no), key: int(vals["size"] or 0)}

        return observed, obs, meta

    def _build_filters(self, seen: DataFrame, headroom: int = 1) -> DataFrame:
        """Per-bucket filter blobs from the exact seen table, in the
        session's seen_mode form."""
        if self.seen_mode == "cuckoo":
            return build_cuckoo(seen, cfg=self._rcfg(), headroom=headroom)
        return build_blooms(seen, cfg=self._rcfg(), headroom=headroom)

    def _canonical_frontier(self, urls: DataFrame, depth_col, priority_col) -> DataFrame:
        """urls(url[, ...]) → frontier rows with canonical keys. When a
        trap-template table is wired (``traps=``), matching URLs enter
        the frontier with their priority demoted by TRAP_PENALTY at
        INSERT time — every downstream ordering contract (candidate
        dedupe, admission windows, the oracle's sort key) is untouched;
        traps simply sort last and are crawled only when a host's
        budget has room (Heritrix-style demote-don't-drop)."""
        rows = (
            urls.withColumn("c", canonicalize_udf("url"))
            .select(
                "url",
                F.col("c.surt").alias("surt"),
                F.col("c.host").alias("host"),
                F.col("c.path").alias("path"),
                depth_col.cast("int").alias("depth"),
                priority_col.cast("double").alias("priority"),
                F.lit(0).alias("failure_count"),
            )
            .where(F.col("surt").isNotNull())
        )
        if self.traps is None:
            return rows
        from crawler_spark.operators.trapdetect import url_template

        t = F.broadcast(
            self.traps.select(
                F.col("host").alias("_th"), F.col("template").alias("_tt")
            )
        )
        # Template the CANONICAL path, not the raw url: the join's host
        # key is canonical, and a raw-form difference (uppercase scheme,
        # default port, dot segments) must not let a trap URL slip past
        # the stored template. url_template's scheme-strip is a no-op on
        # a bare path, so the shape matches what trap_detect computed.
        return (
            rows.withColumn("_tmpl", url_template(F.col("path")))
            .join(
                t,
                (F.col("host") == F.col("_th")) & (F.col("_tmpl") == F.col("_tt")),
                "left",
            )
            .withColumn(
                "priority",
                F.when(
                    F.col("_th").isNotNull(),
                    F.col("priority") - F.lit(TRAP_PENALTY),
                ).otherwise(F.col("priority")),
            )
            .drop("_tmpl", "_th", "_tt")
        )

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Round-0 frontier from the seed list. Priority encodes the
        reference's deterministic submission order (stream order,
        src/crawler.py:103-106): earlier seed ⇒ higher priority."""
        obs = Observation()
        frontier = self._canonical_frontier(
            seeds, F.lit(0), -F.col("seed_id").cast("double")
        ).observe(obs, F.count(F.lit(1)).alias("n"))
        empty_seen = self.spark.createDataFrame([], SEEN_SCHEMA)
        fv = self.store.write("frontier", frontier, meta={"round": 0})
        self.store.write("url_seen", empty_seen, meta={"round": 0})
        self.store.write(
            self._ftable, self._build_filters(empty_seen), meta=self._bloom_meta(0)
        )
        self.store.commit_state(
            {
                "round": 0,
                "num_buckets": self._num_buckets,
                "seen_total": 0,
                "seen_mode": self.seen_mode,
                "tables": {
                    t: self.store.current_version(t)
                    for t in ("frontier", "url_seen", self._ftable)
                },
            }
        )
        self._frontier_rows = (fv, int(obs.get["n"] or 0))

    def resume(self) -> int:
        """Roll back to the last durable round; returns its number."""
        state = self.store.restore_state()
        if state is None:
            raise RuntimeError("no committed state to resume from (run init_from_seeds)")
        try:  # restore the sticky skew signal from the last round's metrics
            row = (
                self.store.read(self.spark, "metrics")
                .orderBy(F.desc("round"))
                .select("max_host_load")
                .first()
            )
            self._last_max_host = int(row[0]) if row else None
        except Exception:
            self._last_max_host = None
        if self.adaptive and "rate" in state:
            self._rate = float(state["rate"])
            self.budget = self._budget_from_rate()
        self._num_buckets = int(state.get("num_buckets", self.cfg.num_host_buckets))
        self._seen_total = int(state.get("seen_total", -1))
        if self._seen_total < 0:  # pre-tracking store: one count at resume
            self._seen_total = self.store.read(self.spark, "url_seen").count()
        # a store written in the other seen_mode has no blobs under this
        # mode's table — fail fast instead of probing a missing table
        mode_written = state.get("seen_mode", "bloom")
        if mode_written != self.seen_mode:
            raise ValueError(
                f"store was written with seen_mode={mode_written!r}; "
                f"resume with the same mode (got {self.seen_mode!r})"
            )
        # Filter blobs from a different hash/slot scheme would yield
        # false NEGATIVES on probe (silent url_seen breakage) — rebuild
        # from the exact seen table on any stamp mismatch.
        meta = self.store.meta(self._ftable)
        if meta.get("hash_version") != self._filter_version() or (
            meta.get("num_buckets") not in (None, self._num_buckets)
        ):
            seen = self.store.read(self.spark, "url_seen")
            self.store.write(
                self._ftable,
                self._build_filters(seen, headroom=4),
                meta=self._bloom_meta(int(state["round"])),
            )
            state["tables"][self._ftable] = self.store.current_version(self._ftable)
            self.store.commit_state(state)
        return int(state["round"])

    def _budget_from_rate(self) -> int:
        p = self.cfg.politeness
        return max(1, int(p.burst + self._rate * p.round_duration_s))

    # --------------------------------------------------------- retraction --
    def retract(self, urls: DataFrame) -> int:
        """Remove URLs from the url_seen set so they become schedulable
        again — the crawl-state operation behind recrawl invalidation
        and fetch-retraction (the reference's seen set is an in-memory
        Python set, src/crawler.py:54-55,181-186, where retraction is
        ``set.discard``; here the seen set is a 10^10-row table with a
        probabilistic accelerator in front of it).

        Semantics: canonicalize ``urls(url)``, drop the matching rows
        from the exact ``url_seen`` table, and retire their filter
        entries. This is where the two seen_mode forms differ at scale:

        - ``cuckoo``: one O(1) fingerprint deletion per retracted key
          (operators/cuckoo.delete_cuckoo) — O(|delta| + blob bytes)
          total, the capability that justifies cuckoo's ~19 bytes/key
          over the Bloom's 10 bits;
        - ``bloom``: bits cannot be unset, so the affected buckets'
          blobs are REBUILT from the exact table — O(bucket rows), not
          O(delta).

        Either way correctness does not depend on the filter update: a
        stale maybe only costs an exact-confirm row, and the exact
        table (the truth) no longer holds the key, so the URL re-enters
        as unseen. Call between rounds (not concurrently with
        run_round); commits a new durable state. Returns the number of
        seen rows retracted."""
        spark, store = self.spark, self.store
        state = store.restore_state()
        if state is None:
            raise RuntimeError("no committed state (run init_from_seeds first)")
        keys = (
            urls.withColumn("c", canonicalize_udf("url"))
            .select(F.col("c.surt").alias("surt"))
            .where(F.col("surt").isNotNull())
            .distinct()
        )
        seen = store.read(spark, "url_seen")
        # only keys actually present may be deleted from a cuckoo filter
        # (deleting a never-inserted fingerprint could evict a live
        # colliding key's occurrence — the standard cuckoo caveat); the
        # same semi-join also gives bloom mode its affected-bucket list
        present = seen.join(F.broadcast(keys), "surt", "left_semi").persist()
        n = present.count()
        if n == 0:
            present.unpersist()
            return 0
        # anti-join the cached present keys, not ``keys``: same rows (only
        # present keys can match), without a second canonicalize pass
        remaining = seen.join(F.broadcast(present.select("surt")), "surt", "left_anti")
        rnd = int(state["round"])
        store.write(
            "url_seen",
            remaining.sortWithinPartitions("bucket"),
            meta={"round": rnd, "retracted": n},
        )
        filters = store.read(spark, self._ftable)
        if self.seen_mode == "cuckoo":
            new_f = delete_cuckoo(filters, present.select("surt"), cfg=self._rcfg())
        else:
            buckets = [r[0] for r in present.select("bucket").distinct().collect()]
            rebuilt = self._build_filters(
                store.read(spark, "url_seen").where(F.col("bucket").isin(buckets)),
                headroom=4,
            )
            new_f = filters.where(~F.col("bucket").isin(buckets)).unionByName(rebuilt)
        # keep the probe gate's size hint fresh across retraction versions
        # too (same piggyback as the round-loop write)
        new_f, _, fmeta = self._observe_filter(new_f, rnd)
        store.write(self._ftable, new_f, meta=fmeta)
        present.unpersist()
        # a fresh (un-resumed) crawler object tracks 0 — trust the state
        self._seen_total = max(
            0, int(state.get("seen_total", self._seen_total)) - n
        )
        state["seen_total"] = self._seen_total
        state["seen_mode"] = self.seen_mode
        state.setdefault("tables", {})
        state["tables"]["url_seen"] = store.current_version("url_seen")
        state["tables"][self._ftable] = store.current_version(self._ftable)
        store.commit_state(state)
        return n

    # ------------------------------------------------------------ round --
    def run_round(self, round_no: int, measure: bool = True) -> RoundMetrics:
        t0 = time.time()
        m = RoundMetrics(round=round_no)
        m.trace = {}
        _tprev = [t0]

        def _tr(name: str) -> None:
            now = time.time()
            m.trace[name] = round(now - _tprev[0], 2)
            _tprev[0] = now
        spark, store, cfg = self.spark, self.store, self.cfg
        rcfg = self._rcfg()  # cfg with the current (dynamic) bucket count

        frontier = store.read(spark, "frontier")
        seen = store.read(spark, "url_seen")
        filters = store.read(spark, self._ftable)

        # 1. within-frontier dedupe: one candidate per surt. Order is fully
        #    deterministic: priority, then failure_count desc (a retrying
        #    row must beat a fresh link with the same surt so its attempt
        #    count survives), then url as the total tie-break. Expressed as
        #    a min_by aggregate, NOT a window: the partial (map-side)
        #    aggregate collapses duplicate surts before the shuffle — at a
        #    10^10-row frontier where the same URL is re-discovered by many
        #    pages per round, a row_number window would shuffle and sort
        #    every raw row instead. (Lexicographic struct order = the
        #    window's ORDER BY; priority/failure_count are never null.)
        obs_cand = Observation()
        ord_key = F.struct(
            (-F.col("priority")).alias("o1"),
            (-F.col("failure_count")).alias("o2"),
            F.col("url").alias("o3"),
        )
        payload = F.struct(*[F.col(c) for c in _FCOLS])
        candidates = (
            frontier.groupBy("surt")
            .agg(F.min_by(payload, ord_key).alias("_p"))
            .select("_p.*")
            .observe(obs_cand, F.count(F.lit(1)).alias("n"))
        )

        # 2. URL-seen anti-join: filter prefilter (Bloom word-probe or
        #    cuckoo slot-probe — same maybe/confirm contract, identical
        #    exact unseen set), exact confirm against probe-positive
        #    buckets only. The bucket-prune collect inside is the round's
        #    first job; it fills the probed cache and fires obs_cand.
        if self.seen_mode == "cuckoo":
            # broadcast the slot tables while they fit on every executor;
            # beyond that, the cogrouped per-bucket probe (no single place
            # ever holds all blobs) — same size rule as the Bloom pair,
            # fed by the byte total piggybacked on the previous round's
            # filter write (fallback: one tiny B-row aggregate)
            tb = store.meta(self._ftable).get("total_slot_bytes")
            if tb is None:
                tb = (
                    filters.agg(
                        F.sum(F.coalesce(F.size("slots"), F.lit(0)))
                    ).first()[0]
                    or 0
                ) * 4
            probe = (
                probe_cuckoo_broadcast
                if tb <= cfg.bloom_broadcast_max_bytes
                else probe_cuckoo
            )
        else:
            probe = None
        ur = filter_unseen_pruned(
            candidates, seen, filters, cfg=rcfg,
            total_bits=(
                store.meta(self._ftable).get("total_bits")
                if self.seen_mode == "bloom" else None
            ),
            probe=probe,
        )
        _tr("prune_probe")
        unseen = ur.unseen

        # 3. robots verdict as a tag (broadcast join), cached: the
        #    allowed/blocked branches and the admission windows all read it.
        #    Unseen/blocked totals ride on the cache fill as an Observation
        #    (one fill → one fire); no standalone stats job.
        obs_tag = Observation()
        if self.robots_mode == "rfc9309":
            gated = gate_rfc9309(unseen, self.robots).withColumn(
                "_blocked", ~F.col("allowed")
            ).drop("allowed", "rule")
        else:
            gated = gate_tag(unseen, self.robots)
        tagged = (
            gated
            .observe(
                obs_tag,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("_blocked"), 1).otherwise(0)).alias("nb"),
            )
            .persist()
        )

        # 4. politeness admission. The skew decision is STICKY: this round
        #    salts iff the previous round's max per-host load crossed the
        #    threshold (the load itself is observed off the admission
        #    window's row_number — zero extra jobs, one round of lag; a
        #    host that explodes mid-crawl costs one slow window round,
        #    then salting kicks in).
        m.salted = (self._last_max_host or 0) > cfg.skew_threshold
        allowed = budget_from_crawl_delay(
            tagged.where(~F.col("_blocked")).drop("_blocked"),
            cfg.politeness.round_duration_s,
            self.budget,
        )
        obs_load = Observation()
        adm = admit_per_host(allowed, budget_col="host_budget", cfg=cfg,
                             force_salting=m.salted, load_observation=obs_load)
        admitted = adm.admitted.drop("host_budget", "crawl_delay").persist()
        deferred = adm.deferred

        # 5. "fetch": scan the pages corpus once with the admitted set as a
        #    broadcast hash probe (inner join — no shuffle of the corpus),
        #    dedupe the ~5% duplicate copies AFTER the join (first copy in
        #    file order, window over ~1.05×|admitted| rows), and recover
        #    the missing set with a cheap anti-join against the (small)
        #    fetched-url list. Cached: detector, link-expansion, and the
        #    missing branch all reuse `fetched`.
        fetched = first_wins(
            self._pages_sel.join(F.broadcast(admitted), "url"),
            ["url"],
            [F.col("warc_offset").asc()],
        ).persist()
        missing = admitted.join(
            F.broadcast(fetched.select("url")), "url", "left_anti"
        )

        # 6. classify fetched pages (one Arrow stage), gate, append results
        from crawler_spark.patterns import CONFIDENCE_ORDER

        det = fetched.withColumn("d", detect_udf(F.col("text")))
        results = det.where(
            F.col("d.is_nextjs")
            & (
                confidence_rank(F.col("d.confidence"))
                >= F.lit(CONFIDENCE_ORDER.get(self.min_confidence, 2))
            )
        ).select(
            F.lit(round_no).alias("round"),
            "priority",
            "host",
            "surt",
            "url",
            F.col("d.confidence").alias("confidence"),
            F.col("d.indicators").alias("indicators"),
            F.col("d.build_id").alias("build_id"),
            F.col("d.version").alias("version"),
            "warc_source",
            F.spark_partition_id().alias("partition_id"),
        )

        # 7. failures: missing pages retry up to max_attempts; the reason
        #    comes from the reference's error-string classifier over the
        #    miss context (dead host vs absent page).
        fail_rows = missing.withColumn("failure_count", F.col("failure_count") + 1)
        retryable = fail_rows.where(F.col("failure_count") < cfg.max_retry_attempts)
        failures_log = fail_rows.select(
            "url",
            # classify only the message prefix before the interpolated
            # URL/host ("... for <url>") — a URL whose own text contains
            # 'timeout'/'connection' must not sway the when-chain
            classify_failure_reason(
                F.substring_index(
                    fetch_error_string(F.col("host"), F.col("url")), " for ", 1
                )
            ).alias("failure_reason"),
            "failure_count",
            F.lit(round_no).alias("round"),
            (F.col("failure_count") >= cfg.max_retry_attempts).alias("is_permanent"),
        )

        # 8. next frontier: deferred ∪ new out-links ∪ retryable failures.
        #    (next round's step 2 anti-joins the fresh seen set, so links
        #    back to scheduled URLs terminate — planted cycles included.)
        parts = [
            deferred.select(*_FCOLS).withColumn("_src", F.lit("deferred")),
            retryable.select(*_FCOLS).withColumn("_src", F.lit("retry")),
        ]
        if self.links is not None:
            # Link expansion: probe the (huge) links table with the (small,
            # ≤ budget×hosts) fetched-url set. BROADCAST the probe side
            # explicitly — AQE's stats overestimate the cached/filtered
            # fetch branch and pick a sort-merge join that shuffles the
            # entire links table every round (measured: 63% of round CPU).
            # At a scale where admitted×budget outgrows a broadcast, the
            # production answer is a links table bucketed by src_url
            # (storage-partitioned join), not a shuffle.
            link_dst = (
                self.links.join(
                    F.broadcast(fetched.select(F.col("url").alias("src_url")).distinct()),
                    "src_url",
                )
                .select(F.col("dst_url").alias("url"))
                .distinct()
            )
            new_links = self._canonical_frontier(
                link_dst, F.lit(round_no + 1), F.lit(-1000.0) * (round_no + 1)
            )
            parts.append(new_links.select(*_FCOLS).withColumn("_src", F.lit("link")))
        next_frontier = parts[0]
        for p in parts[1:]:
            next_frontier = next_frontier.unionByName(p)
        obs_frontier = Observation()
        next_frontier = next_frontier.observe(
            obs_frontier,
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("_src") == "deferred", 1).otherwise(0)).alias("deferred"),
            F.sum(F.when(F.col("_src") == "retry", 1).otherwise(0)).alias("retry"),
            F.sum(F.when(F.col("_src") == "link", 1).otherwise(0)).alias("link"),
        ).drop("_src")

        # 9. seen += scheduled URLs this round (admitted minus the missing
        #    ones that will retry; permanently-failed URLs are sealed too).
        #    Rows keep their bucket and are written bucket-sorted so the
        #    confirm join's IN-list prunes parquet row groups (the Iceberg
        #    bucket-partition analog).
        seen_delta = admitted.join(retryable.select("surt"), "surt", "left_anti")
        obs_seen = Observation()
        newly_seen = (
            seen_delta.select("bucket", "surt", "url", "host")
            .withColumn("round", F.lit(round_no))
            .observe(obs_seen, F.count(F.lit(1)).alias("n"))
            .sortWithinPartitions("bucket")
        )
        obs_res = Observation()
        results = results.observe(obs_res, F.count(F.lit(1)).alias("n"))
        obs_fail = Observation()
        failures_log = failures_log.observe(
            obs_fail,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("is_permanent"), 1).otherwise(0)).alias("permanent"),
        )

        # ---- commit (deltas only; state swap last = snapshot isolation) --
        # The frontier write runs FIRST and alone: it materializes the
        # tagged/admitted/fetch caches (and fires their observations), so
        # the writes after it read warm caches. Those writes are mutually
        # independent → run concurrently (separate action threads against
        # the same session); rollback-on-crash makes any interleaving safe
        # because state.json still commits last.
        fv = store.write("frontier", next_frontier, meta={"round": round_no})
        _tr("w_frontier")

        def _w_seen_and_filters() -> None:
            store.write("url_seen", newly_seen, meta={"round": round_no}, append=True)
            # filter maintenance folds in ONLY this round's delta, computed
            # from the cached admitted/fetched frames (no read-back of the
            # delta just written). Overflow detection and the size hint
            # ride the write's Observation — the common path is ONE job.
            # Buckets past their target FP rate / load factor are rebuilt
            # from the exact table (amortized-rare: fresh buckets carry 4×
            # headroom). It runs after the url_seen write rather than
            # beside it: on the crawl_recrawl benchmark, the concurrent
            # filter job gained about 5% throughput but raised the rounds
            # and retractions whose process-tree RSS peaked past 3.7 GB
            # from 3 to 10 in 24.
            update = update_cuckoo if self.seen_mode == "cuckoo" else update_blooms
            new_f, obs_f, fmeta = self._observe_filter(
                update(filters, seen_delta, cfg=rcfg), round_no
            )
            store.write(self._ftable, new_f, meta=fmeta)
            if not int(obs_f.get["overflow"] or 0):
                return
            blob = "slots" if self.seen_mode == "cuckoo" else "bits"
            written = store.read(spark, self._ftable)
            overflow = [
                r[0] for r in written.where(F.col(blob).isNull()).select("bucket").collect()
            ]
            rebuilt = self._build_filters(
                store.read(spark, "url_seen").where(F.col("bucket").isin(overflow)),
                headroom=4,
            )
            final, _, fmeta = self._observe_filter(
                written.where(~F.col("bucket").isin(overflow)).unionByName(rebuilt),
                round_no,
            )
            store.write(self._ftable, final, meta=fmeta)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(3) as pool:
            futs = [
                pool.submit(_w_seen_and_filters),
                pool.submit(
                    store.write, "results", results, {"round": round_no}, None, True
                ),
                pool.submit(
                    store.write, "failures", failures_log, {"round": round_no}, None, True
                ),
            ]
            for f in futs:
                f.result()
        _tr("w_parallel")

        # ---- metrics: all piggybacked on the writes above --------------
        to = obs_tag.get
        m.unseen = int(to["n"] or 0)
        m.blocked = int(to["nb"] or 0)
        try:
            m.max_host_load = int(obs_load.get["max_load"] or 0)
        except Exception:
            m.max_host_load = 0
        self._last_max_host = m.max_host_load
        try:
            m.candidates = int(obs_cand.get["n"])
        except Exception:
            m.candidates = m.unseen  # observation unavailable: lower bound
        fo = obs_frontier.get
        m.next_frontier = int(fo["total"] or 0)
        m.deferred = int(fo["deferred"] or 0)
        m.new_links = int(fo["link"] or 0)
        n_retry = int(fo["retry"] or 0)
        m.admitted = int(obs_seen.get["n"] or 0) + n_retry
        m.results = int(obs_res.get["n"] or 0)
        m.missing = int(obs_fail.get["n"] or 0)
        m.fetched = m.admitted - m.missing
        m.seconds = time.time() - t0
        _tr("obs_read")
        # one row per round: written driver-side (pyarrow) — a Spark job
        # for a 1-row append is pure scheduling overhead
        store.write_local(
            "metrics", [m.row()], METRICS_SCHEMA, meta={"round": round_no}, append=True
        )

        # Bucket-layout maintenance: double the bucket count whenever the
        # running seen total would push a bloom blob past the byte ceiling,
        # rewriting seen (new bucket column, bucket-sorted) and rebuilding
        # blooms as new snapshot versions. Geometric growth → amortized
        # O(1) rewrites per key, like a vector resize.
        self._seen_total += int(obs_seen.get["n"] or 0)
        need_b = required_buckets(self._seen_total, cfg)
        if need_b > self._num_buckets:
            self._num_buckets = need_b
            rcfg2 = self._rcfg()
            rebucketed = (
                store.read(spark, "url_seen")
                .withColumn("bucket", bucket_of("surt", rcfg2))
                .sortWithinPartitions("bucket")
            )
            store.write(
                "url_seen", rebucketed, meta={"round": round_no, "rebucketed_to": need_b}
            )
            store.write(
                self._ftable,
                self._build_filters(store.read(spark, "url_seen"), headroom=4),
                meta=self._bloom_meta(round_no),
            )

        if self.adaptive:
            # next round's budget from this round's outcome (reference
            # AdaptiveRateLimiter recast; persisted below so resume keeps it)
            from crawler_spark.operators.politeness import adaptive_budget

            self._rate = adaptive_budget(
                self._rate, failures_prev=m.missing, successes_prev=m.fetched, cfg=cfg
            )
            self.budget = self._budget_from_rate()
        store.commit_state(
            {
                "round": round_no,
                "rate": self._rate,
                "num_buckets": self._num_buckets,
                "seen_total": self._seen_total,
                "seen_mode": self.seen_mode,
                "tables": {
                    t: self.store.current_version(t)
                    for t in (
                        "frontier", "url_seen", self._ftable,
                        "results", "failures", "metrics",
                    )
                },
            }
        )
        self._frontier_rows = (fv, m.next_frontier)
        for df in (admitted, fetched, tagged, ur.probed):
            df.unpersist()
        return m

    def run(
        self,
        max_rounds: int,
        from_round: int | None = None,
        on_round=None,
    ) -> list[RoundMetrics]:
        """Run rounds until the frontier drains or max_rounds. The drain
        check reuses the frontier-write observation of this object's last
        round (or of ``init_from_seeds``) — no count job, unless the
        frontier's current version is not one this object wrote (a fresh
        object on an existing store, or a rollback).

        on_round: optional progress hook called with each RoundMetrics as
        the round commits (bench/monitoring use; exceptions propagate)."""
        start = (from_round if from_round is not None else self.resume()) + 1
        out: list[RoundMetrics] = []
        prev_next: int | None = None
        if self._frontier_rows is not None:
            fv, rows = self._frontier_rows
            if self.store.current_version("frontier") == fv:
                prev_next = rows
        aqe_key = "spark.sql.adaptive.enabled"
        prev_aqe = self.spark.conf.get(aqe_key, "true")
        if not self.cfg.frontier_aqe:
            self.spark.conf.set(aqe_key, "false")
        try:
            for r in range(start, start + max_rounds):
                if prev_next == 0:
                    break
                if prev_next is None and (
                    self.store.read(self.spark, "frontier").limit(1).count() == 0
                ):
                    break
                m = self.run_round(r)
                out.append(m)
                if on_round is not None:
                    on_round(m)
                prev_next = m.next_frontier
        finally:
            self.spark.conf.set(aqe_key, prev_aqe)
        return out
