"""Benchmark of the streaming CEP engine (see README.md in this directory).

    python3 perfbench/run.py --workload replay_stateful --seed 1 \\
        --seconds 20 --trace 0

Builds the workload's inputs from ``--seed``, runs the engine on them for
about ``--seconds`` seconds, checks every output row against the
independent oracle, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics. The line before it is the full run record (environment, sample
counts, outcome, validity); records and span traces are also kept under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "logeventprocessor_spark")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(HERE, ".work")


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(run_dir: str) -> None:
    """Fit the session to the host from outside the package, and keep
    every scratch file inside the run directory."""
    # get_spark reads SPARK_DRIVER_MEM; its 24g default exceeds small hosts
    os.environ.setdefault(
        "SPARK_DRIVER_MEM", f"{max(1, min(4, int(mem_total_gb() // 4)))}g")
    # the Python workers import the package from the source tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # spark-submit's launcher JVM would write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)


def code_sha256() -> str:
    """Content hash of the package and the benchmark: identifies the code
    measured even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for base in (PACKAGE, HERE):
        for d, dirs, names in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def environment() -> dict:
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_total_gb(), 2),
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_commit": commit,
        "code_sha256": code_sha256(),
    }


def main(argv=None) -> int:
    spec = None
    if os.path.exists(SPEC):
        with open(SPEC) as f:
            spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if spec is None or not os.path.isdir(PACKAGE):
        print(f"perfbench: needs {SPEC} and the package at {PACKAGE}",
              file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    import measure
    import workloads

    try:
        t0, cpu0 = time.time(), measure.cpu_times()
        rec = workloads.WORKLOADS[args.workload](
            args.seed, args.seconds, bool(args.trace), run_dir,
            os.path.join(WORK, "oracle"), measure.PeakRss())
        wall = time.time() - t0
        steal = measure.cpu_steal_ratio(cpu0, measure.cpu_times())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    values = rec[section]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec[section]
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    spans = rec.pop("spans", None)
    if spans is not None:
        with open(os.path.join(WORK, "traces", f"{tag}.json"), "w") as f:
            json.dump(spans, f)
    env = environment()
    record = {
        "kind": "perfbench_run", "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "wall_s": wall,
        "cpu_steal_ratio": steal, "environment": env, **rec,
    }
    if args.trace:
        # tracing overhead, end to end: this run minus the kept untraced
        # run of the same workload, seed and code
        base = os.path.join(WORK, "results", tag[:-1] + "0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)
            if untraced["environment"]["code_sha256"] == env["code_sha256"]:
                record["traced_minus_untraced"] = {
                    k: v - untraced["end_to_end"][k]
                    for k, v in rec["end_to_end"].items()}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"],
        "failed": rec["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
