"""The benchmark's workloads: ``classify_bulk``, ``crawl_bfs``, ``crawl_recrawl``.

Each workload is a closed loop in one process: the next operation (a
classify pass, a crawl round, a retraction) starts when the previous one
has returned. A workload object goes through

- ``prepare()``  untimed: cached inputs, the seeded seed list, the oracle;
- ``setup(i)``   timed set-up, repeated; the run reports the median;
- ``warm()``     timed once after the set-ups and added to ``setup_s``;
- ``measure()``  the timed loop, for at least ``--seconds``;
- ``layers()``   the traced run (``--trace 1``): per-layer metrics.

Operations record whether their output check passed; checks run outside
the timed parts.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import Observation
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT
from crawler_spark.frontier import FrontierCrawler
from crawler_spark.plans.flagship import classify_bulk, content_sniff_html
from crawler_spark.sources.tables import SnapshotStore
from perfbench import inputs, procstat
from perfbench.inputs import Corpus
from perfbench.oracle import COUNT_FIELDS, StepOracle
from perfbench.tracing import SparkCounter, TracedStore, Tracer

SIZES = {
    # classify: bench.py's page shape (240 words ≈ 1.7 KB text);
    # crawl: bench.py's frontier page shape (60 words), fanout 8
    "full": {
        "classify": Corpus(15_000, 240),
        "crawl": Corpus(20_000, 60),
        "seeds": 2_000,
        "check_rows": 300,
        "kernel_rows": 2_000,
    },
    # the self-check's size: every code path, seconds per run
    "tiny": {
        "classify": Corpus(1_500, 240, files=4),
        "crawl": Corpus(1_500, 60, fanout=4, files=4),
        "seeds": 60,
        "check_rows": 50,
        "kernel_rows": 200,
    },
}

RETRACT_SHARE = 0.05
MIN_PASSES = 6
WARM_PASSES = 2
MEDIUM = 2  # CONFIDENCE_ORDER["medium"], the default result gate


@dataclass
class Op:
    kind: str  # pass | round | retract
    wall: float
    ok: bool = True
    pages: int = 0
    urls: int = 0
    net: float = 0.0  # wall net of steal, see timed_net


@dataclass
class Ctx:
    spark: object
    work: str  # cache shared by runs in this checkout
    run_dir: str  # this run's scratch, removed at exit
    seed: int
    seconds: float
    size: dict
    tracer: Tracer = field(default_factory=Tracer)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_task(it):
    from crawler_spark.functions.detector import detect_frame

    for pdf in it:
        detect_frame(pdf["t"])
        time.sleep(0.2)  # hold the slot so every task runs concurrently
        yield pdf[["t"]]


def warm_up(spark) -> None:
    """One task per slot, all running at once: starts a Python worker in
    every slot and imports the detector there."""
    n = spark.sparkContext.defaultParallelism
    noop(
        spark.range(0, n, 1, n)
        .select(F.lit("<html>next</html>").alias("t"))
        .mapInPandas(_warm_task, "t string")
    )


def timed(fn, *a, **kw) -> tuple[float, object]:
    """(seconds, result) of one call."""
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t0, out


def timed_net(fn, *a) -> tuple[float, float, object]:
    """(wall s, wall net of steal s, result) of one call. Net of steal is
    the wall less the share of it in which the host ran other tenants on
    this machine's CPUs; ``procstat.cpus_awake`` keeps every CPU busy, so
    that share is the machine's steal share over the call."""
    st0 = procstat.steal_ticks()
    wall, out = timed(fn, *a)
    return wall, wall * (1 - procstat.steal_share(st0, procstat.steal_ticks())), out


def _dir_mb(path: str) -> float:
    total = 0
    for dp, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total / 2**20


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ classify --


RESULT_COLS = ("domain", "url", "schema", "confidence", "indicators",
               "build_id", "version", "warc_source")


def _digest_obs(df):
    """(df observed, Observation with row count ``n`` and an
    order-independent hash sum ``h`` of every result column)."""
    obs = Observation()
    h = F.pmod(F.xxhash64(*[F.col(c) for c in RESULT_COLS]), F.lit(2**31 - 1))
    return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")), obs


def _expected_result(rows: list[dict]) -> dict | None:
    """The reference's result row for one (warc_source, url) group: the
    first record by warc_offset that is a response, passes the content
    sniff and is Next.js at confidence ≥ medium."""
    from crawler_spark.oracle.reference_detector import detect
    from crawler_spark.patterns import CONFIDENCE_ORDER

    for r in sorted(rows, key=lambda r: r["warc_offset"]):
        text = r["text"]
        if r["rec_type"] != "response" or "html" not in (text or "")[:1000].lower():
            continue
        d = detect(text)
        if d["is_nextjs"] and CONFIDENCE_ORDER.get(d["confidence"], 0) >= MEDIUM:
            p = urlparse(r["url"])
            return {
                "domain": p.netloc, "schema": p.scheme, "confidence": d["confidence"],
                "indicators": sorted(d["indicators"]), "build_id": d["build_id"],
                "version": d["version"],
            }
    return None


class ClassifyBulk:
    """Repeated ``plans.flagship.classify_bulk`` passes over one corpus,
    each written to a noop sink."""

    name = "classify_bulk"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.digests: list[tuple[int, int]] = []

    def prepare(self) -> None:
        c = self.ctx
        self.dir = inputs.ensure_corpus(c.spark, c.work, c.size["classify"], with_links=False)

    def setup(self, i: int) -> None:
        self.pages = self.ctx.spark.read.parquet(f"{self.dir}/pages")
        self.n_pages = self.pages.count()
        warm_up(self.ctx.spark)
        # the plan over a 1/512 row sample: its code generation and class
        # loading (≈2× the first full pass) happen here, not in a timed pass
        noop(classify_bulk(self.pages.where(F.col("warc_offset") % 512 == 0)))

    def warm(self) -> None:
        """``WARM_PASSES`` whole passes: the first passes in a JVM run up to
        1.3× a later one, and their share of the timed passes would
        otherwise depend on how many fit in ``--seconds``."""
        for _ in range(WARM_PASSES):
            self._pass()

    def _pass(self) -> tuple[int, int]:
        df, obs = _digest_obs(classify_bulk(self.pages))
        noop(df)
        return int(obs.get["n"]), int(obs.get["h"] or 0)

    def measure(self, sec) -> list[Op]:
        """Passes until ``--seconds`` of timed wall and at least
        ``MIN_PASSES``, so the pass count, and with it the mix of
        JIT-warming passes, does not flip between runs."""
        ops: list[Op] = []
        while sec.wall < self.ctx.seconds or len(ops) < MIN_PASSES:
            try:
                with sec.active():
                    wall, net, d = timed_net(self._pass)
            except Exception as e:  # a failed pass is counted, then the loop stops
                print(f"{self.name}: pass failed: {e!r}")
                ops.append(Op("pass", 0.0, ok=False))
                break
            self.digests.append(d)
            ops.append(Op("pass", wall, pages=self.n_pages, urls=d[0], net=net))
        return ops

    def check(self, ops: list[Op]) -> dict:
        """Persist one more pass to a SnapshotStore table; every pass must
        give its digest, and a seeded sample of (warc_source, url) groups
        must match the reference detector row for row."""
        c = self.ctx
        store = SnapshotStore(f"{c.run_dir}/store")
        df, obs = _digest_obs(classify_bulk(self.pages))
        store.write("results", df, meta={"pass": "check"})
        ref = (int(obs.get["n"]), int(obs.get["h"] or 0))
        for op, d in zip([o for o in ops if o.ok], self.digests):
            op.ok = d == ref
        got = {
            (r["warc_source"], r["url"]): r.asDict()
            for r in store.read(c.spark, "results").collect()
        }
        problems = []
        if len(got) != ref[0]:
            problems.append(f"stored {len(got)} rows, observed {ref[0]}")
        problems += self._sample_check(got)
        if problems:
            print("classify check:", problems[:5])
            ops[-1].ok = False
        return {"store_mb": _dir_mb(store.root), "digest": ref}

    def _sample_check(self, got: dict) -> list[str]:
        import pyarrow.parquet as pq

        cols = ["url", "text", "rec_type", "warc_source", "warc_offset"]
        t = pq.read_table(f"{self.dir}/pages", columns=cols).to_pylist()
        groups: dict[tuple, list] = {}
        for r in t:
            groups.setdefault((r["warc_source"], r["url"]), []).append(r)
        keys = random.Random(self.ctx.seed).sample(sorted(groups), self.ctx.size["check_rows"])
        bad = []
        for k in keys:
            exp, row = _expected_result(groups[k]), got.get(k)
            if exp is None or row is None:
                if (exp is None) != (row is None):
                    bad.append(f"{k}: expected {exp}, got {row}")
                continue
            row = {f: (sorted(row[f]) if f == "indicators" else row[f]) for f in exp}
            if row != exp:
                bad.append(f"{k}: expected {exp}, got {row}")
        return bad

    def metrics(self, ops, sec, checked) -> dict:
        """Rates from the median pass, net of steal: passes are alike, so
        the median keeps a pass slowed by a neighbour's burst out of the
        rate."""
        done = [o for o in ops if o.ok]
        pages = sum(o.pages for o in done)
        p50 = _median([o.net for o in done])
        return {
            "pages_per_s": self.n_pages / p50 if done else 0.0,
            "urls_per_s": _median([o.urls for o in done]) / p50 if done else 0.0,
            "round_s_p50": p50,
            "cpu_s_per_kpage": sec.cpu["total"] / max(1, pages) * 1000,
            "peak_rss_mb": _median(sec.op_peaks) / 2**20,
            "store_mb": checked["store_mb"],
            "_rounds": len(ops),
            "_last_pass_s": ops[-1].wall,
        }

    # ---------------------------------------------------------- traced --
    def layers(self, untraced: dict) -> tuple[dict, list[Op]]:
        """A traced pass between two untraced ones (passes still speed up
        as the JIT warms, so the overhead compares neighbours), the
        flagship sub-plans and the kernels on this corpus; crawl-layer
        metrics from a one-round ``crawl_bfs``-shaped probe crawl, which
        this workload has none of."""
        c = self.ctx
        own0 = c.tracer.own_s
        with c.tracer.span("pass") as s:
            d = self._pass()
        after, d_after = timed(self._pass)
        ops = [Op("pass", w, ok=x == self.digests[0], pages=self.n_pages, urls=x[0])
               for w, x in ((s.dur, d), (after, d_after))]
        before = untraced["_last_pass_s"]
        out = {
            "trace.overhead_pct": 100 * (c.tracer.own_s - own0) / s.dur,
            "detail.traced_vs_untraced_pct": 100 * (s.dur / ((before + after) / 2) - 1),
        }
        out |= flagship_layers(self.pages)
        out |= kernel_layers(c, self.pages)
        probe = Crawl(c, "crawl_bfs", plan="r")
        probe.prepare()
        crawl_out, probe_ops = probe.crawl_layers(None)
        return out | crawl_out, ops + probe_ops


# --------------------------------------------------------------- crawl --

SEEDS_SCHEMA = "seed_id bigint, url string"

CRAWLS = {
    # name: (seen_mode, per-host budget, plan: r = round, x = retract)
    "crawl_bfs": ("bloom", 50, "rr"),
    "crawl_recrawl": ("cuckoo", 3, "rxr"),
}


class Crawl:
    """A ``FrontierCrawler`` episode from fresh seeds: the plan's rounds
    (link expansion on) with ``retract()`` of a seeded 5% of ``url_seen``
    where the plan says ``x``. Every count is checked against the oracle."""

    def __init__(self, ctx: Ctx, name: str, plan: str | None = None):
        self.ctx, self.name = ctx, name
        self.seen_mode, self.budget, default_plan = CRAWLS[name]
        self.plan = plan or default_plan
        self.ready: list[tuple] = []
        self.episodes: list[dict] = []

    def prepare(self) -> None:
        c = self.ctx
        self.dir = inputs.ensure_corpus(c.spark, c.work, c.size["crawl"], with_links=True)
        t = inputs.load_oracle_tables(self.dir)
        seeds = inputs.seed_list(t["page_urls"], c.size["seeds"], c.seed)
        oracle = StepOracle(
            seeds, t["page_urls"], t["links"], t["robots"], t["result_urls"],
            self.budget, DEFAULT.max_retry_attempts, DEFAULT.politeness.round_duration_s,
        )
        self.expect: list = []  # per plan step: round counts, or (n, urls df)
        for k, step in enumerate(self.plan):
            if step == "r":
                self.expect.append(oracle.step())
            else:
                sl = inputs.retract_slice(oracle.url_of, RETRACT_SHARE, c.seed, k)
                n = oracle.retract(set(sl))
                urls = c.spark.createDataFrame([(u,) for u in sorted(sl.values())], "url string")
                self.expect.append((n, urls))
        self.expect_seen = set(oracle.seen)
        self.oracle = oracle
        self.seeds_df = c.spark.createDataFrame(seeds, SEEDS_SCHEMA)

    def _crawler(self, store) -> FrontierCrawler:
        spark = self.ctx.spark
        return FrontierCrawler(
            spark, store,
            spark.read.parquet(f"{self.dir}/pages"),
            links=spark.read.parquet(f"{self.dir}/links"),
            robots=spark.read.parquet(f"{self.dir}/robots"),
            budget=self.budget, seen_mode=self.seen_mode,
        )

    def setup(self, i: int) -> None:
        store = SnapshotStore(f"{self.ctx.run_dir}/store{i}")
        crawler = self._crawler(store)
        crawler.init_from_seeds(self.seeds_df)
        warm_up(self.ctx.spark)
        self.ready.append((store, crawler))

    def warm(self) -> None:
        """The plan's first round on the first set-up's store, which is
        then dropped: the first round in a JVM runs about 1.7× a later one
        (class loading, code generation), so without it the timed episode
        would carry that cost."""
        store, crawler = self.ready.pop(0)
        crawler.run(1)
        crawler.close()

    def measure(self, sec) -> list[Op]:
        """Whole episodes until ``--seconds`` of timed wall; a fresh store
        is initialised (untimed) when the set-up ones are used up."""
        ops: list[Op] = []
        extra = len(self.ready)
        while sec.wall < self.ctx.seconds:
            if not self.ready:
                extra += 1
                self.setup(extra)
            store, crawler = self.ready.pop(0)
            w0 = sec.wall
            ep_ops = self._episode(store, crawler, sec)
            crawler.close()
            self.episodes[-1]["wall"] = sec.wall - w0
            ops += ep_ops
            if not all(o.ok for o in ep_ops):
                break
        for _, crawler in self.ready:
            crawler.close()
        return ops

    def _episode(self, store, crawler, sec, tracer: Tracer | None = None) -> list[Op]:
        """Run the plan once on an initialised store, timing only inside
        ``sec.active()`` and splitting ``sec``'s RSS windows per step;
        then check every step against the oracle. With a tracer, each
        round and retraction is a root span carrying the Spark jobs,
        stages and tasks it ran."""
        steps: list[tuple] = []  # (kind, wall, RoundMetrics | retracted count, span)
        nets: list[float] = []  # each step's wall net of steal
        counter = SparkCounter(self.ctx.spark.sparkContext) if tracer else None
        inner = crawler.run_round

        def step(kind, fn, *a):
            if tracer is None:
                wall, net, out = timed_net(fn, *a)
                steps.append((kind, wall, out, None))
                nets.append(net)
            else:
                with tracer.own():
                    counter.snap()
                with tracer.root_span(kind) as sp:
                    out = fn(*a)
                with tracer.own():
                    sp.attrs |= counter.snap()
                steps.append((kind, sp.dur, out, sp))
                nets.append(sp.dur)
            sec.split()
            return out

        crawler.run_round = lambda r, *a: step("round", inner, r, *a)
        error, i = None, 0
        try:
            while i < len(self.plan):
                j = i
                while j < len(self.plan) and self.plan[j] == "r":
                    j += 1
                with sec.active():
                    if j > i:
                        done = sum(1 for s in steps if s[0] == "round")
                        crawler.run(j - i, from_round=done)
                    else:
                        step("retract", crawler.retract, self.expect[i][1])
                        j = i + 1
                i = j
        except Exception as e:  # the failing step is counted, then the episode stops
            error = e
            print(f"{self.name}: step {len(steps)} failed: {e!r}")
        finally:
            crawler.run_round = inner
        return self._check(store, steps, nets, error)

    def _check(self, store, steps, nets, error) -> list[Op]:
        ops: list[Op] = []
        for (kind, wall, out, sp), net, exp in zip(steps, nets, self.expect):
            if kind == "round":
                bad = [f for f in COUNT_FIELDS if getattr(out, f) != exp[f]]
                if out.fetched + out.missing != out.admitted:
                    bad.append("fetched+missing!=admitted")
                if not out.salted and out.max_host_load != exp["max_host_load"]:
                    bad.append("max_host_load")
                if bad:
                    print(f"{self.name} round {out.round}: {bad} got "
                          f"{ {f: getattr(out, f) for f in bad if hasattr(out, f)} } "
                          f"expected { {f: exp.get(f) for f in bad} }")
                ops.append(Op("round", wall, not bad, pages=out.fetched, urls=out.candidates,
                              net=net))
            else:
                ok = out == exp[0]
                if not ok:
                    print(f"{self.name}: retracted {out}, expected {exp[0]}")
                ops.append(Op("retract", wall, ok, net=net))
        if error is not None or len(steps) < len(self.plan):
            nxt = self.plan[len(steps)] if len(steps) < len(self.plan) else "r"
            ops.append(Op("retract" if nxt == "x" else "round", 0.0, ok=False))
        try:
            seen = [r[0] for r in store.read(self.ctx.spark, "url_seen").select("surt").collect()]
        except Exception as e:  # an unreadable store fails the episode, not the run
            print(f"{self.name}: url_seen unreadable: {e!r}")
            seen = []
        if len(seen) != len(set(seen)) or set(seen) != self.expect_seen:
            print(f"{self.name}: url_seen has {len(seen)} rows, {len(set(seen))} distinct; "
                  f"oracle {len(self.expect_seen)}; differ by {len(set(seen) ^ self.expect_seen)}")
            ops[-1].ok = False
        self.episodes.append({
            "store_mb": _dir_mb(store.root),
            "seen_digest": hashlib.sha256("\n".join(sorted(seen)).encode()).hexdigest()[:16],
            "steps": steps,
        })
        return ops

    def check(self, ops: list[Op]) -> dict:
        return {"store_mb": self.episodes[-1]["store_mb"], "digest": self.episodes[-1]["seen_digest"]}

    def metrics(self, ops, sec, checked) -> dict:
        """Rates over the timed wall and the median round, net of steal."""
        rounds = [o for o in ops if o.kind == "round" and o.ok]
        pages = sum(o.pages for o in rounds)
        net_wall = sec.wall * (1 - sec.steal_pct / 100)
        return {
            "pages_per_s": pages / net_wall,
            "urls_per_s": sum(o.urls for o in rounds) / net_wall,
            "round_s_p50": _median([o.net for o in rounds]),
            "cpu_s_per_kpage": sec.cpu["total"] / max(1, pages) * 1000,
            "peak_rss_mb": _median(sec.op_peaks) / 2**20,
            "store_mb": checked["store_mb"],
            "_rounds": len(rounds),
        }

    # ---------------------------------------------------------- traced --
    def layers(self, untraced: dict) -> tuple[dict, list[Op]]:
        """The crawl layers, then the flagship sub-plans and the kernels
        over this crawl's pages."""
        out, ops = self.crawl_layers(untraced)
        pages = self.ctx.spark.read.parquet(f"{self.dir}/pages")
        return out | flagship_layers(pages) | kernel_layers(self.ctx, pages), ops

    def crawl_layers(self, untraced: dict | None) -> tuple[dict, list[Op]]:
        """One traced episode on a TracedStore, then standalone calls into
        the operator layers on its final state. ``untraced`` is None for a
        probe crawl that has no untraced episode to compare against."""
        c = self.ctx
        tr = c.tracer
        store = TracedStore(f"{c.run_dir}/traced", tr)
        with tr.root_span("init") as init:
            crawler = self._crawler(store)
            crawler.init_from_seeds(self.seeds_df)
        own0 = tr.own_s
        ops = self._episode(store, crawler, Untimed(), tracer=tr)
        traced_s = sum(w for _, w, _, _ in self.episodes[-1]["steps"])
        out = {"frontier.init_s": init.dur}
        if untraced is not None:
            # Tracing adds no Spark job, so its overhead is the bookkeeping
            # on the calling threads. The traced episode runs on a warmer
            # JVM than the untraced one, so their plain difference (kept in
            # the detail line) mostly measures JIT warm-up.
            untraced_s = sum(w for _, w, _, _ in self.episodes[0]["steps"])
            out["trace.overhead_pct"] = 100 * (tr.own_s - own0) / traced_s
            out["detail.traced_vs_untraced_pct"] = 100 * (traced_s / untraced_s - 1)
        out |= self._round_layers(tr, store)
        out |= state_layers(c, store.root, crawler, self.seen_mode, self.budget)
        retracts = [sp.dur for kind, _, _, sp in self.episodes[-1]["steps"] if kind == "retract"]
        if not retracts:  # no retraction in the plan: retract a slice of the final state
            sl = inputs.retract_slice(self.oracle.url_of, RETRACT_SHARE, c.seed, len(self.plan))
            urls = c.spark.createDataFrame([(u,) for u in sorted(sl.values())], "url string")
            with tr.root_span("retract") as sp:
                n = crawler.retract(urls)
            ops.append(Op("retract", sp.dur, n == len(sl)))
            retracts = [sp.dur]
        out["frontier.retract_s"] = _median(retracts)
        out["base.frontier.retract_s"] = len(retracts)
        out["base.frontier.init_s"] = 1
        crawler.close()
        return out, ops

    def _round_layers(self, tr: Tracer, store) -> dict:
        steps = self.episodes[-1]["steps"]
        rounds = [(out, sp) for kind, _, out, sp in steps if kind == "round"]
        kids: dict[int, list] = {}
        for s in tr.spans:
            kids.setdefault(s.parent, []).append(s)

        def below(sid):
            for k in kids.get(sid, ()):
                yield k
                yield from below(k.id)

        ftable = "blooms" if self.seen_mode == "bloom" else "cuckoo"
        names = {"frontier": "write:frontier", "url_seen": "write:url_seen",
                 "filter": f"write:{ftable}", "results": "write:results",
                 "failures": "write:failures"}
        per = {k: [] for k in (*names, "commit", "calls", "meta", "bytes")}
        for _, sp in rounds:
            store_spans = [s for s in below(sp.id) if s.attrs.get("kind") == "store"]
            for k, n in names.items():
                per[k].append(sum(s.dur for s in store_spans if s.name == n))
            per["commit"].append(sum(s.dur for s in store_spans if s.name == "commit_state"))
            per["calls"].append(len(store_spans))
            per["meta"].append(sum(1 for s in store_spans if s.attrs.get("meta_read")))
            per["bytes"].append(sum(s.attrs.get("bytes", 0) for s in store_spans))
        ms = [m for m, _ in rounds]
        n = max(1, len(rounds))
        tot = {f: sum(getattr(m, f) for m in ms) for f in ("candidates", "unseen", "admitted", "fetched", "results")}
        manifests = [os.path.join(dp, f) for dp, _, fs in os.walk(store.root)
                     for f in fs if f in ("_manifest.json", "state.json")]
        out = {f"tables.write_{k}_s": _median(per[k]) for k in names}
        out |= {
            "tables.commit_state_s": _median(per["commit"]),
            "tables.calls_per_round": sum(per["calls"]) / n,
            "tables.meta_reads_per_round": sum(per["meta"]) / n,
            "tables.bytes_written_per_round": sum(per["bytes"]) / n,
            "tables.manifest_bytes": sum(os.path.getsize(p) for p in manifests),
            "frontier.self_s": _median([tr.self_time(sp.id) for _, sp in rounds]),
            "frontier.prune_probe_s": _median([m.trace["prune_probe"] for m in ms]),
            "frontier.w_frontier_s": _median([m.trace["w_frontier"] for m in ms]),
            "frontier.w_parallel_s": _median([m.trace["w_parallel"] for m in ms]),
            "frontier.unseen_ratio": tot["unseen"] / max(1, tot["candidates"]),
            "frontier.admit_ratio": tot["admitted"] / max(1, tot["unseen"]),
            "frontier.fetch_ratio": tot["fetched"] / max(1, tot["admitted"]),
            "frontier.result_ratio": tot["results"] / max(1, tot["fetched"]),
            "frontier.max_host_load": max((m.max_host_load for m in ms), default=0),
        }
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}_per_round"] = sum(sp.attrs.get(k, 0) for _, sp in rounds) / n
        out |= {f"base.{k}": len(rounds) for k in out if k.startswith(("tables.", "frontier.", "spark."))}
        out |= {
            "base.tables.manifest_bytes": len(manifests),
            "base.frontier.unseen_ratio": tot["candidates"],
            "base.frontier.admit_ratio": tot["unseen"],
            "base.frontier.fetch_ratio": tot["admitted"],
            "base.frontier.result_ratio": tot["fetched"],
        }
        return out


class Untimed:
    """Stands in for ``procstat.Section`` where the spans do the timing."""

    def split(self) -> None:
        pass

    def active(self):
        return nullcontext()


# -------------------------------------------------------------- layers --


def _timed_noop(df) -> float:
    return timed(noop, df)[0]


def _count_obs(df, **exprs):
    obs = Observation()
    return df.observe(obs, *[e.alias(k) for k, e in exprs.items()]), obs


def state_layers(c: Ctx, root: str, crawler, seen_mode: str, budget: int) -> dict:
    """Standalone calls into the seen-filter, dedup, robots and politeness
    operators on a crawl's final state. The filter form the crawl did not
    use is built from the exact seen table first (untimed)."""
    from crawler_spark.operators.bloom import (
        build_blooms, probe_blooms_broadcast, update_blooms,
    )
    from crawler_spark.operators.cuckoo import (
        build_cuckoo, delete_cuckoo, probe_cuckoo_broadcast, update_cuckoo,
    )
    from crawler_spark.operators.dedup import filter_unseen_pruned
    from crawler_spark.operators.politeness import admit_per_host
    from crawler_spark.operators.robots import gate_tag

    spark, plain = c.spark, SnapshotStore(root)
    cfg = dataclasses.replace(DEFAULT, num_host_buckets=plain.read_state()["num_buckets"])
    frontier = plain.read(spark, "frontier").persist()
    n_front = frontier.count()
    seen = plain.read(spark, "url_seen")
    ftable = "blooms" if seen_mode == "bloom" else "cuckoo"
    own = plain.read(spark, ftable)
    meta = plain.meta(ftable)
    out = {}

    t0 = time.perf_counter()
    ur = filter_unseen_pruned(
        frontier, seen, own, cfg=cfg,
        total_bits=meta.get("total_bits"),
        probe=probe_cuckoo_broadcast if seen_mode == "cuckoo" else None,
    )
    ur.unseen.count()
    out["dedup.filter_unseen_s"] = time.perf_counter() - t0
    out["dedup.maybe_bucket_ratio"] = len(ur.maybe_buckets) / cfg.num_host_buckets
    ur.probed.unpersist()

    blooms = own if seen_mode == "bloom" else build_blooms(seen, cfg=cfg, headroom=4).persist()
    cuckoo = own if seen_mode == "cuckoo" else build_cuckoo(seen, cfg=cfg, headroom=4).persist()
    blooms.count(), cuckoo.count()
    pick = F.pmod(F.xxhash64("surt", F.lit(c.seed)), F.lit(20)) == 0
    new_keys = frontier.select("surt").where(pick)
    old_keys = seen.select("surt").where(pick)

    out["bloom.update_s"] = _timed_noop(update_blooms(blooms, new_keys, cfg=cfg))
    df, obs = _count_obs(
        probe_blooms_broadcast(frontier, blooms, "surt", cfg),
        m=F.sum(F.col("_maybe_seen").cast("long")),
    )
    noop(df)
    out["bloom.maybe_ratio"] = (obs.get["m"] or 0) / max(1, n_front)

    out["cuckoo.update_s"] = _timed_noop(update_cuckoo(cuckoo, new_keys, cfg=cfg))
    out["cuckoo.delete_s"] = _timed_noop(delete_cuckoo(cuckoo, old_keys, cfg=cfg))
    df, obs = _count_obs(
        probe_cuckoo_broadcast(frontier, cuckoo, "surt", cfg),
        m=F.sum(F.col("_maybe_seen").cast("long")),
    )
    noop(df)
    out["cuckoo.maybe_ratio"] = (obs.get["m"] or 0) / max(1, n_front)
    for df in (blooms, cuckoo):
        if df is not own:
            df.unpersist()

    tagged, obs = _count_obs(
        gate_tag(frontier, crawler.robots), b=F.sum(F.col("_blocked").cast("long"))
    )
    tagged = tagged.persist()
    out["robots.gate_s"] = timed(tagged.count)[0]
    out["robots.blocked_ratio"] = (obs.get["b"] or 0) / max(1, n_front)
    adm = admit_per_host(
        tagged.where(~F.col("_blocked")).drop("_blocked", "crawl_delay"), budget=budget, cfg=cfg
    )
    out["politeness.admit_s"] = _timed_noop(adm.admitted) + _timed_noop(adm.deferred)
    tagged.unpersist()
    frontier.unpersist()
    # every standalone call ran over the final frontier's rows, once
    return out | {f"base.{k}": n_front for k in out} | {
        "base.dedup.maybe_bucket_ratio": cfg.num_host_buckets}


def flagship_layers(pages) -> dict:
    """``classify_bulk``'s sub-plans, each written to a noop sink: the
    scan, the response + content-sniff filter, the detector and the
    canonicalizer over sniffed rows, and the whole plan."""
    from crawler_spark.functions.detector import detect_udf
    from crawler_spark.functions.url import canonicalize_udf

    cols = ["url", "warc_source", "warc_offset", "rec_type", "text"]
    n_pages = pages.count()
    sniffed = pages.where(F.col("rec_type") == "response").where(content_sniff_html(F.col("text")))
    scan_s = _timed_noop(pages.select(*cols))
    df, obs = _count_obs(sniffed.select(*cols), n=F.count(F.lit(1)))
    sniff_s = _timed_noop(df)
    detect_s = _timed_noop(sniffed.select(detect_udf(F.col("text")).alias("d")))
    canon_s = _timed_noop(sniffed.select(canonicalize_udf(F.col("url")).alias("c")))
    df, obs_full = _digest_obs(classify_bulk(pages))
    full_s = _timed_noop(df)
    out = {
        "flagship.scan_s": scan_s,
        "flagship.sniff_s": sniff_s,
        "flagship.detect_s": detect_s,
        "flagship.canon_s": canon_s,
        "flagship.full_s": full_s,
        "flagship.sniff_pass_ratio": obs.get["n"] / max(1, n_pages),
        "flagship.result_ratio": obs_full.get["n"] / max(1, n_pages),
    }
    return out | {f"base.{k}": n_pages for k in out}


def kernel_layers(c: Ctx, pages, reps: int = 3) -> dict:
    """The detector and URL kernels in this process over a seeded row
    sample (the median of ``reps`` timings), and the share of rows a
    literal gate on ``next`` / ``buildid`` / ``build_manifest`` passes."""
    from crawler_spark.functions.detector import detect_frame
    from crawler_spark.functions.url import canonicalize_batch

    n_pages = pages.count()
    k = c.size["kernel_rows"]
    sample = (
        pages.where(F.pmod(F.xxhash64("url", F.lit(c.seed)), F.lit(n_pages)) < k)
        .select("url", "text")
        .toPandas()
    )
    det = _median([timed(detect_frame, sample["text"])[0] for _ in range(reps)])
    url = _median([timed(canonicalize_batch, sample["url"])[0] for _ in range(reps)])
    low = sample["text"].fillna("").str.lower()
    gate = (
        low.str.contains("next", regex=False)
        | low.str.contains("buildid", regex=False)
        | low.str.contains("build_manifest", regex=False)
    )
    out = {
        "detector.kernel_pages_per_s": len(sample) / det,
        "detector.gate_pass_ratio": float(gate.mean()),
        "url.kernel_urls_per_s": len(sample) / url,
    }
    return out | {f"base.{k}": len(sample) for k in out}


WORKLOADS = {
    "classify_bulk": ClassifyBulk,
    "crawl_bfs": lambda ctx: Crawl(ctx, "crawl_bfs"),
    "crawl_recrawl": lambda ctx: Crawl(ctx, "crawl_recrawl"),
}
