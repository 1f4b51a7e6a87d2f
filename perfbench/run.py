"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload bulk_merge --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The engine runs in this process on
``local[<cores>]``; every file the run writes (inputs, tables, Spark
scratch, temp files, the trace) lives under ``.perfbench_work/`` in the
checkout. The last stdout line is the JSON result; the lines before it
are the provenance stamp and every metric by name and unit. Exit code 0
means every output check passed; 1 means a check failed or an op
raised; 2 means the engine could not be imported or started.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median


def cpu_busy(interval: float = 0.5) -> float:
    """Share of all CPUs busy (steal included) over ``interval`` seconds."""
    def snap():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v), v[3] + v[4]  # total, idle + iowait

    t0, i0 = snap()
    time.sleep(interval)
    t1, i1 = snap()
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a gauge, independent of
    the program, of how fast the shared host runs right now. Runs whose
    timings all move together with it moved with the host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return time.perf_counter() - t0


def provenance(args, run_dir: str, cores: int, driver_mem: str) -> dict:
    load = os.getloadavg()
    busy = cpu_busy()
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": f"local[{cores}]", "driver_memory": driver_mem,
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "load_start": [round(x, 2) for x in load],
        # the load average trails by a minute (a previous run shows in
        # it), so contention is judged by the CPU share other processes
        # use right before the engine starts: above a quarter, the run
        # reads slow and is flagged to be set aside
        "cpu_busy_start": round(busy, 3),
        "contended": busy > 0.25,
        "host_probe_s": round(host_probe_s(), 4),
        "git_sha": sha, "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], "run_dir": os.path.relpath(run_dir, ROOT),
    }


def driver_memory() -> str:
    """A quarter of physical RAM, at most 4 GB: well below the box."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(4, int(ram_gb // 4)))}g"


def configure_env(run_dir: str, cores: int, mem: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` before anything starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": mem,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(run_dir: str, cores: int):
    from parquet_rewriter_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_confs={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
            # the heap starts at its full size: peak RSS then does not
            # depend on when the JVM chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    return out


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    kids = _children(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm = next(line for line in fh if line.startswith("VmHWM:"))
    return py + int(hwm.split()[1]) / 1024.0


def inputs_digest(setup_dir: str) -> str:
    """SHA-256 over the generated input files (not the engine's table)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(setup_dir):
        dirs[:] = sorted(x for x in dirs if x != "table")
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def run_workload(spark, name: str, seed: int, seconds: float,
                 trace: bool, scale: str, run_dir: str) -> dict:
    """Set up ``SETUPS`` times, warm up, run the op loop, check. Returns
    the tracer, the workload and the set-up times."""
    from tracing import Tracer, install_layer_wrappers
    from workloads import WORKLOADS

    tracer = Tracer(spark, enabled=trace)
    wl = WORKLOADS[name](spark, tracer, seed, seconds, scale)
    setup_times = []
    for i in range(SETUPS):
        d = os.path.join(run_dir, f"setup{i}")
        os.makedirs(d)
        t0 = time.perf_counter()
        wl.setup(d)
        setup_times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(run_dir, f"setup{i - 1}"))
    digest = inputs_digest(os.path.join(run_dir, f"setup{SETUPS - 1}"))
    phases = {"setups": sum(setup_times)}
    t0 = time.perf_counter()
    wl.warmup()
    phases["warmup"] = time.perf_counter() - t0
    restore = install_layer_wrappers(tracer) if trace else None
    t0 = time.perf_counter()
    try:
        wl.run()
    finally:
        if restore:
            restore()
    phases["ops"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.check()
    phases["check"] = time.perf_counter() - t0
    return {"tracer": tracer, "workload": wl, "setup_times": setup_times,
            "phases": phases, "inputs_sha256": digest}


def measure(args) -> int:
    cores = os.cpu_count() or 1
    mem = driver_memory()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    sys.path.insert(0, ROOT)
    try:
        import parquet_rewriter_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir, cores, mem)
    prov = provenance(args, run_dir, cores, mem)
    t0 = time.perf_counter()
    spark = start_spark(run_dir, cores)
    t_start = time.perf_counter() - t0
    from report import (
        END_TO_END_UNITS, PER_LAYER_UNITS, end_to_end, layer_self_times,
        per_layer, workload_lines,
    )

    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        res = run_workload(spark, args.workload, args.seed, args.seconds,
                           bool(args.trace), args.scale, run_dir)
        tracer, wl = res["tracer"], res["workload"]
        rss = peak_rss_mb(jvm_pid)
        if args.trace:
            metrics = per_layer(tracer, wl, cores)
            units = PER_LAYER_UNITS
        else:
            metrics = end_to_end(tracer.ops, res["setup_times"], rss)
            units = END_TO_END_UNITS
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    prov["phase_s"] = {k: round(v, 2) for k, v in {
        "start": t_start, **res["phases"], "stop": time.perf_counter() - t0}.items()}
    prov["load_end"] = [round(x, 2) for x in os.getloadavg()]
    prov["cpu_busy_end"] = round(cpu_busy(), 3)
    prov["host_probe_end_s"] = round(host_probe_s(), 4)
    prov["setup_times_s"] = [round(t, 4) for t in res["setup_times"]]
    prov["inputs_sha256"] = res["inputs_sha256"]
    prov["ops"] = [[o.kind, round(o.latency_s, 4), o.jobs] for o in tracer.ops]
    attempted = len(tracer.ops) + wl.checks
    failed = len(wl.failures)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.write(path, prov)
        prov["trace_file"] = os.path.relpath(path, ROOT)
        prov["layer_self_s"] = layer_self_times(tracer)

    print(json.dumps({"provenance": prov}))
    for why in wl.failures:
        print(f"FAILED: {why}")
    if not args.trace:
        for line in workload_lines(tracer.ops, wl.summary()):
            print(line)
    print(f"failed_frac = {failed / max(attempted, 1):.4f} ratio "
          f"({failed} of {attempted} ops and checks)")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--selftest", action="store_true",
                    help="determinism and tracing checks at tiny scale")
    args = ap.parse_args(argv)
    if args.selftest:
        from selftest import selftest

        return selftest()
    if not args.workload:
        ap.error("--workload is required")
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
