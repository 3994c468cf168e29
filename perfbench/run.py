#!/usr/bin/env python3
"""Benchmark of the mahjong ETL and its analyst queries.

From the repository root:

    python3 perfbench/run.py                       # every workload, untraced
    python3 perfbench/run.py --workload backfill --seed 3 --seconds 10 --trace 0

One workload per process.  With no ``--workload`` every workload runs
in its own child process and a summary table follows.  The last line
of a single-workload run is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer ones with
``--trace 1``).  A failed correctness check exits with code 1.

Everything the run writes stays under ``.perfbench/`` in the
repository root: scratch inputs and outputs (removed at the end), and
one result record per run in ``.perfbench/results/`` (with the span
record of a traced run).  See perfbench/README.md for the workloads,
metrics and the layer each metric belongs to.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def _confine(work: str) -> None:
    """Keep every temporary file of the driver, the JVM and the Python
    workers under ``work``; size the session for this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # The heap is committed and touched up front (-Xms = -Xmx,
    # AlwaysPreTouch): otherwise how far G1 happens to grow it moves
    # peak_rss_mb by ~10% from run to run.  -UsePerfData keeps the
    # launcher and driver JVMs out of /tmp/hsperfdata_*.
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    java = f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())


def run_one(args) -> int:
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    _confine(work)
    sys.path.insert(0, ROOT)

    import mahjong_etl_spark

    if not os.path.abspath(mahjong_etl_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: mahjong_etl_spark resolves outside the checkout", file=sys.stderr)
        return 2

    from tracing import RssSampler
    from workloads import WORKLOADS, Run

    nproc = os.cpu_count()
    host = {"nproc": nproc, "load1_start_per_core": os.getloadavg()[0] / nproc,
            "cpu_probe_start_s": _cpu_probe()}
    cpu0 = _cpu_times()
    run = Run(os.path.join(work, "w"), args.seed, args.seconds, bool(args.trace))
    try:
        with RssSampler() as rss:
            WORKLOADS[args.workload](run)
        host["spark_cores"] = run.spark.sparkContext.defaultParallelism
    finally:
        run.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    host["load1_end_per_core"] = os.getloadavg()[0] / nproc
    used = [b - a for a, b in zip(cpu0, _cpu_times())]
    # share of this machine's CPU time taken by its hypervisor
    host["cpu_steal_share"] = used[7] / max(sum(used), 1)
    host["cpu_probe_end_s"] = _cpu_probe()

    e2e = dict(run.e2e)
    e2e["setup_s"] = statistics.median(run.setup_s)
    e2e["peak_rss_mb"] = rss.peak / 2**20
    kind = "per_layer" if args.trace else "end_to_end"
    values = run.layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    correct = run.failed == 0 and not run.problems
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": run.inputs,
        "setup_s_samples": run.setup_s, "end_to_end": e2e, "extra": run.extra,
        "per_layer": run.layer, "phases_s": run.phases,
        "samples": run.samples[False], "traced_samples": run.samples[True],
        "rss_peak_by_process_mb": {k: v / 2**20 for k, v in rss.by_name.items()},
        "attempted": run.attempted, "failed": run.failed,
        "problems": run.problems,
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        run.tracer.write(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})

    print(f"host: nproc={nproc} spark_cores={host['spark_cores']} "
          f"load1/core start={host['load1_start_per_core']:.2f} "
          f"end={host['load1_end_per_core']:.2f} cpu_steal={host['cpu_steal_share']:.3f} "
          f"cpu_probe start={host['cpu_probe_start_s']:.3f}s end={host['cpu_probe_end_s']:.3f}s")
    print("inputs: " + " ".join(f"{k}={v}" for k, v in run.inputs.items()))
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in run.phases.items()))
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, v in run.extra.items():
        print(f"{name} = {v:.6g}")
    print(f"error_ratio = {run.failed / max(run.attempted, 1):.6g} "
          f"({run.failed} of {run.attempted} operations)")
    if args.trace:
        print("self time per layer (s):")
        for name, agg in sorted(run.tracer.layers().items()):
            print(f"  {name:40s} n={agg['count']:<5d} total={agg['total_s']:.3f} "
                  f"self={agg['self_s']:.3f}")
    for p in run.problems:
        print(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def _cpu_probe() -> float:
    """Seconds for a fixed single-thread Python loop: shows how fast this
    host's cores ran around the run, which drifts on a shared machine
    without showing up as steal."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_all(args) -> int:
    """Every workload untraced, one child process each, then a summary."""
    spec = _spec()
    rc, rows = 0, []
    for w in spec["workloads"]:
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        sys.stdout.write(f"== {w['name']} ({time.perf_counter() - t0:.0f} s)\n{p.stdout}")
        sys.stderr.write(p.stderr[-4000:] if p.returncode else "")
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if p.returncode or result is None or not result["correct"]:
            rc = 1
        rows.append((w["name"], result))
    print("\nworkload         " + " ".join(f"{m['name']:>28s}" for m in spec["end_to_end"]))
    for name, result in rows:
        cells = [
            f"{result['metrics'][m['name']]['value']:>22.4g} {m['unit']:>5s}"
            if result else f"{'FAILED':>28s}"
            for m in spec["end_to_end"]
        ]
        print(f"{name:16s} " + " ".join(cells))
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="one workload; omit to run them all untraced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # the program under test is built from this checkout's source
    if not (os.path.isfile(SPEC) and os.path.isfile(os.path.join(ROOT, "mahjong_etl_spark", "__init__.py"))):
        print(f"perfbench: no BENCHMARK.json or mahjong_etl_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = _spec()["run_seconds"]
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
