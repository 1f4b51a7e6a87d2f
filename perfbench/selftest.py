"""Self-test of the benchmark itself, at tiny scale.

For each workload it runs the benchmark three times with one seed, each
in a fresh process: untraced, traced, traced again.
It checks that

1. every run generated byte-identical inputs;
2. the untraced and the traced run issued the same ops, and each op ran
   the same number of Spark jobs (tracing adds no job);
3. the two traced runs report identical count metrics (bytes within
   ``BYTES_RTOL``);
4. every run passed its output checks (a smoke test of each workload);
5. every ``bulk_merge`` merge took the distributed path.

It also prints the tracing overhead: the traced run's median op latency
minus the untraced run's. Exit code 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

from report import PER_LAYER_UNITS
from workloads import WORKLOADS

SEED = 7
# Per-layer metrics that repeat for a seed: every count exactly; bytes
# and byte ratios to within BYTES_RTOL, because sidecar rows name data
# files by random UUID and those names compress to slightly different
# sizes. Times and the parallel fraction (÷ time) are not compared.
BYTES_RTOL = 1e-3


def _counts(metrics: dict) -> dict:
    return {k: v["value"] for k, v in metrics.items()
            if PER_LAYER_UNITS[k] != "s" and k != "spark.parallel_frac"}


def _differ(k: str, a: float, b: float) -> bool:
    if PER_LAYER_UNITS[k] == "count":
        return a != b
    return abs(a - b) > BYTES_RTOL * max(abs(a), abs(b))


def _run(workload: str, trace: int) -> tuple[dict, dict, int]:
    """One benchmark run at tiny scale: (provenance, result, exit code)."""
    here = os.path.dirname(os.path.abspath(__file__))
    p = subprocess.run(
        [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode not in (0, 1) or not lines:
        return {}, {"correct": False, "metrics": {}}, p.returncode
    return json.loads(lines[0])["provenance"], json.loads(lines[-1]), p.returncode


def selftest() -> int:
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for name in WORKLOADS:
        runs = [_run(name, trace) for trace in (0, 1, 1)]
        for (prov, res, rc), label in zip(runs, ("untraced", "traced", "traced again")):
            expect(rc == 0 and res["correct"],
                   f"{name}: {label} smoke run, {len(prov.get('ops', []))} ops, exit {rc}")
        if any(not prov for prov, _res, _rc in runs):
            continue
        (p0, _r0, _), (p1, r1, _), (p2, r2, _) = runs
        expect(len({p["inputs_sha256"] for p, _r, _c in runs}) == 1,
               f"{name}: same seed, byte-identical inputs")
        jobs0 = [(k, j) for k, _lat, j in p0["ops"]]
        jobs1 = [(k, j) for k, _lat, j in p1["ops"]]
        expect(jobs0 == jobs1, f"{name}: tracing adds no Spark job "
                               f"({sum(j for _, j in jobs0)} jobs untraced, "
                               f"{sum(j for _, j in jobs1)} traced)")
        if name == "bulk_merge":
            n_dist = r1["metrics"]["merge.distributed_count"]["value"]
            expect(n_dist == len(p1["ops"]),
                   f"{name}: every merge distributed ({n_dist} of {len(p1['ops'])})")
        c1, c2 = _counts(r1["metrics"]), _counts(r2["metrics"])
        diff = {k: (c1[k], c2[k]) for k in c1 if _differ(k, c1[k], c2[k])}
        n_exact = sum(1 for k in c1 if c1[k] == c2[k])
        expect(not diff, f"{name}: traced counters repeat ({n_exact} of {len(c1)} "
                         f"exactly, the rest within {BYTES_RTOL:g}) {diff or ''}")
        over = (statistics.median(lat for _k, lat, _j in p1["ops"])
                - statistics.median(lat for _k, lat, _j in p0["ops"]))
        print(f"info {name}: tracing overhead (traced - untraced median op) "
              f"{over * 1000:+.1f} ms", flush=True)
    print(f"selftest: {'PASS' if not problems else 'FAIL'} ({len(problems)} problems)")
    return 0 if not problems else 1
