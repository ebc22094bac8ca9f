"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload daily_listing --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the host (nproc, steal%, idle%, load) and
the pinned environment.  Spans and the full record are written under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end well inside the 180 s the harness allows
# The session factory's default heap (48g) exceeds small hosts.  The
# workloads' data are small, and one fixed size keeps the memory metric
# comparable from host to host.
DRIVER_MEM = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Everything the benchmark fixes about the program's environment,
    set here rather than in package code."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # executor-side Python workers (the listing source's reader)
        # import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_EXTRA_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    # no user path enables these; the benchmark measures the shipped defaults
    for name in ("SPARK_GRAFT_SHARED_FRAMES", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CHECKPOINT"):
        os.environ.pop(name, None)
    return env


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aiesec_guc_spark")):
        print(f"no aiesec_guc_spark package under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from measure import host_window, tail_percentile
    from tools.steal_probe import cpu_sample
    from workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    wl = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
    cpu_before, t_start = cpu_sample(), time.perf_counter()
    try:
        wl.run()
    finally:
        signal.alarm(0)
        wl.session.teardown()
        shutil.rmtree(work, ignore_errors=True)
    host = host_window(cpu_before, cpu_sample())
    host["wall_s"] = time.perf_counter() - t_start
    host["rss_mb_at_peak"] = wl.rss.parts_at_peak

    if args.trace:
        layer = wl.per_layer()
        metrics = {name: {"value": float(layer[name]), "unit": unit_of(name)} for name in PER_LAYER}
    else:
        metrics = {name: {"value": float(v), "unit": u}
                   for name, (v, u) in wl.end_to_end().items()}
    failures = wl.errors + wl.checks.failed
    result = {"correct": not failures, "attempted": wl.ops + wl.checks.attempted,
              "failed": len(failures), "metrics": metrics}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "env": env, "failures": failures,
              "cold_s": wl.cold_s, "warm_s": wl.warm_s, "traced_s": wl.traced_s,
              "setup_s": wl.session.setup_s, "p90_s": tail_percentile(wl.latencies(), 0.9),
              **wl.detail(), "spans": wl.all_spans, "result": result}
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for line in failures:
        print(f"FAILED: {line}", file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s", "s_per_page")):
        return "s"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "write_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
