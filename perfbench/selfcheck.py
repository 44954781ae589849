"""Tiny-size self-check of the benchmark. From the checkout root:

    python3 perfbench/selfcheck.py

For every workload in ``BENCHMARK.json`` it runs ``run.py --size tiny``
with ``--trace 0`` and ``--trace 1`` and checks the last line: exactly the
four result keys, a correct run with ``attempted >= 1`` and no failures,
and every end-to-end (``--trace 0``) or per-layer (``--trace 1``) metric of
``BENCHMARK.json`` present with its unit. It also checks that
``BENCHMARK.json`` and ``metrics.py`` name the same metrics with the same
units, and that ``StepOracle`` without retractions reproduces
``tests/oracle_crawl.oracle_crawl`` on the tiny crawl corpus. Exits 1 on
any failure. Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench import metrics as M  # noqa: E402


def check_spec(bench: dict) -> list[str]:
    bad = []
    for key, spec in (("end_to_end", M.END_TO_END), ("per_layer", M.PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        if listed != spec:
            bad.append(f"BENCHMARK.json {key} differs from metrics.py: "
                       f"{sorted(set(listed.items()) ^ set(spec.items()))}")
    return bad


def check_run(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    bad = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"{tag}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("attempted", 0) < 1 or res.get("failed") != 0:
        bad.append(f"{tag}: correct={res.get('correct')} attempted={res.get('attempted')} "
                   f"failed={res.get('failed')}\n{p.stdout[-2000:]}")
    want = bench["per_layer" if trace else "end_to_end"]
    got = res.get("metrics", {})
    for m in want:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), float):
            bad.append(f"{tag}: metric {m['name']} missing or malformed: {v}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        bad.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
    print(f"{tag}: {'ok' if not bad else 'FAILED'}", flush=True)
    return bad


def check_oracle_twin(work: str) -> list[str]:
    """StepOracle, never retracting, must equal oracle_crawl round by round."""
    from crawler_spark.config import DEFAULT
    from perfbench.oracle import StepOracle
    from perfbench.workloads import SIZES
    from tests.oracle_crawl import oracle_crawl

    size = SIZES["tiny"]
    t = inputs.load_oracle_tables(os.path.join(work, "corpus", size["crawl"].key() + "-l"))
    bad = []
    for seed, budget in ((1, 3), (2, 50)):
        seeds = inputs.seed_list(t["page_urls"], size["seeds"], seed)
        scheds, seen, _ = oracle_crawl(seeds, t["page_urls"], t["links"], t["robots"],
                                       budget, DEFAULT.max_retry_attempts, 4)
        twin = StepOracle(seeds, t["page_urls"], t["links"], t["robots"], t["result_urls"],
                          budget, DEFAULT.max_retry_attempts)
        for _ in range(4):
            twin.step()
        if twin.schedules != scheds or twin.seen != seen:
            bad.append(f"StepOracle differs from oracle_crawl (seed {seed}, budget {budget})")
    print(f"oracle twin: {'ok' if not bad else 'FAILED'}", flush=True)
    return bad


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bad = check_spec(bench)
    for w in bench["workloads"]:
        for trace in (0, 1):
            bad += check_run(w["name"], trace, bench)
    bad += check_oracle_twin(os.path.join(ROOT, ".perfbench_work"))
    for b in bad:
        print(b)
    print("selfcheck:", "ok" if not bad else f"{len(bad)} problem(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
