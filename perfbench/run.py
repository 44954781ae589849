"""Benchmark entry point: one workload per process, result as the last line.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. ``--trace 0`` prints
every end-to-end metric; ``--trace 1`` runs the same measurement and then
a traced pass over the layers, and prints every per-layer metric. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Exits non-zero, without a
result, when the program it measures is not importable.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: the cached corpora (reused by later runs), this run's Spark
local dir and snapshot stores (removed at exit) and the trace spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
DRIVER_MEM = "2g"  # pinned: get_spark's own default is 24g
# C1 only. A crawl round is mostly Catalyst planning and short-lived
# generated code, which C1 runs as fast as C2; C2 spends the first
# minutes of a JVM compiling beside the work. On two vCPUs of a shared VM
# (tiny crawl corpus) the first round → retract → round episode took 47 s
# with C2 and 27 s with C1, later episodes 20-24 s with either.
DRIVER_OPTS = "-XX:TieredStopAtLevel=1"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"))
    return p.parse_args(argv)


def _start_spark(run_dir: str):
    """A local[nproc] session with every scratch path inside the run dir."""
    from crawler_spark.session import get_spark

    local, tmp = f"{run_dir}/spark-local", f"{run_dir}/tmp"
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,  # overrides spark.local.dir when set, so set both
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the JVM that builds the spark-submit command
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.driver.extraJavaOptions": f"{jvm_opts} {DRIVER_OPTS}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def run(args) -> dict:
    from perfbench import metrics as M
    from perfbench import procstat
    from perfbench.workloads import SIZES, WORKLOADS, Ctx, timed, timed_net

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(args.work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        spark_s, spark_net, spark = timed_net(_start_spark, run_dir)
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    try:
        ctx = Ctx(spark, args.work, run_dir, args.seed, args.seconds, SIZES[args.size])
        wl = WORKLOADS[args.workload](ctx)
        prepare_s, _ = timed(wl.prepare)
        setup, setup_net = [], []
        # a traced run reports no setup_s: one set-up is enough there
        for i in range(1 if args.trace else SETUP_REPS):
            wall, net, _ = timed_net(wl.setup, i)
            setup.append(wall)
            setup_net.append(net)
        warm_s, warm_net, _ = timed_net(wl.warm)
        with procstat.Section() as sec:
            ops = wl.measure(sec)
        check_s, checked = timed(wl.check, ops)
        e2e = wl.metrics(ops, sec, checked)
        # wall net of steal, like every time the end-to-end metrics report
        e2e["setup_s"] = spark_net + statistics.median(setup_net) + warm_net
        detail = {
            "workload": args.workload, "seed": args.seed, "rounds": e2e.pop("_rounds"),
            "timed_s": round(sec.wall, 3), "steal_pct": round(sec.steal_pct, 2),
            "spark_start_s": round(spark_s, 3), "setup_reps_s": [round(s, 3) for s in setup],
            "warm_s": round(warm_s, 3),
            "prepare_s": round(prepare_s, 3), "check_s": round(check_s, 3),
            "digest": checked["digest"],
            "op_s": [[o.kind, round(o.wall, 3)] for o in ops],
            "op_net_s": [round(o.net, 3) for o in ops],
            "op_peak_rss_mb": [round(p / 2**20) for p in sec.op_peaks],
        }
        values = e2e
        if args.trace:
            layer, more = wl.layers(e2e)
            ops += more
            layer |= {
                "proc.jvm_cpu_s": sec.cpu["jvm"],
                "proc.python_cpu_s": sec.cpu["python"],
                "proc.steal_pct": sec.steal_pct,
            }
            values = layer
            detail["end_to_end"] = {k: round(e2e[k], 4) for k in M.END_TO_END}
            # the count each per-layer value rests on: rounds, rows or samples
            detail["bases"] = {k[5:]: v for k, v in layer.items() if k.startswith("base.")}
            detail |= {k[7:]: v for k, v in layer.items() if k.startswith("detail.")}
            ctx.tracer.dump(os.path.join(args.work, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        spec = M.PER_LAYER if args.trace else M.END_TO_END
        missing = [k for k in spec if k not in values]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")
        print(json.dumps(detail), flush=True)
    finally:
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    failed = sum(1 for o in ops if not o.ok)
    return {
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in spec.items()},
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import crawler_spark.frontier  # noqa: F401  the program under test
        import tests.oracle_crawl  # noqa: F401  the crawl oracle
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.procstat import cpus_awake

    with cpus_awake():
        result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
