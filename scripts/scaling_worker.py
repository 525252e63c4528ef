"""One scaling-bench run at a fixed parallelism. Invoked as a
subprocess (a JVM cannot change its master once started):

    python scripts/scaling_worker.py <cpus|master> <input_dir> [flags]

arg 1 is either an integer (-> ``local[N]``) or a full master string
(e.g. ``local-cluster[4,4,8192]`` -- executors as SEPARATE JVM
processes, each with its own Python worker pool: the process-isolation
proxy for distinct cluster executors).

Flags:
    --mfpt=N     maxFilesPerTrigger for the streaming leg (default 32)
    --legs=a,b   subset of {batch,stream,jvm} (default all)
    --ipc        meter Arrow IPC bytes/rows across the match boundary
    --runs=N     timed in-JVM repetitions for the batch leg (default 5)

Prints one JSON line: {"cpus", "master", "batch_s", "stream_s",
"jvm_match_s", "n_turns", "n_actions", "mfpt", "stream_phases",
"ipc", ...} (absent legs report -1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from logeventprocessor_spark.pipeline import match_actions  # noqa: E402
from logeventprocessor_spark.rules import canonical_rules  # noqa: E402
from logeventprocessor_spark.session import get_spark  # noqa: E402


def _parse_master(arg: str) -> tuple[str, int]:
    if arg.isdigit():
        return f"local[{int(arg)}]", int(arg)
    if arg.startswith("local-cluster["):
        w, c, _m = arg[len("local-cluster["):].rstrip("]").split(",")
        return arg, int(w) * int(c)
    if arg.startswith("local["):
        return arg, int(arg[len("local["):].rstrip("]"))
    raise SystemExit(f"unrecognized master/cpus: {arg}")


def main():
    master, cpus = _parse_master(sys.argv[1])
    input_dir = sys.argv[2]
    mfpt = 32
    legs = {"batch", "stream", "jvm"}
    want_ipc = False
    n_runs = 5
    for a in sys.argv[3:]:
        if a.startswith("--mfpt="):
            mfpt = int(a.split("=", 1)[1])
        elif a.startswith("--legs="):
            legs = set(a.split("=", 1)[1].split(","))
        elif a == "--ipc":
            want_ipc = True
        elif a.startswith("--runs="):
            n_runs = int(a.split("=", 1)[1])

    # input-split sizing: the ~8 MB bench files pack into ~13 partitions
    # under the 128 MB default, capping scan+match parallelism below
    # local[16]/local[32]. A real 100 TB table yields far more splits
    # than executors at ANY cluster size, so the faithful proxy keeps
    # splits >> cores at both levels: one file per partition.
    extra = {
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
    }
    if master.startswith("local-cluster"):
        # per-worker memory is arg 3 of the master string; executors
        # are real child JVMs -- they need the package on their Python
        # workers' path and an explicit executor memory <= worker mem
        mem_mb = int(master.rstrip("]").split(",")[-1])
        extra.update({
            "spark.executor.memory": f"{max(mem_mb - 1024, 1024)}m",
            "spark.executorEnv.PYTHONPATH": REPO,
        })
    spark = get_spark(
        f"scaling-{cpus}", master=master,
        shuffle_partitions=max(cpus, 8),
        extra_conf=extra,
    )
    rules = canonical_rules()
    turns = spark.read.parquet(input_dir)
    n_turns = turns.count()  # warm file listing + page cache
    n_splits = turns.rdd.getNumPartitions()

    out = {
        "cpus": cpus, "master": master, "mfpt": mfpt,
        "batch_s": -1.0, "stream_s": -1.0, "jvm_match_s": -1.0,
        "n_turns": n_turns, "n_actions": -1, "n_input_splits": n_splits,
    }

    # measure WARM steady-state: run once to amortize Python-worker
    # launch + JIT (a long-running cluster job is always warm), then
    # take the median of the timed runs
    if "batch" in legs:
        out["n_actions"] = match_actions(
            turns, rules, with_cooldown=True
        ).count()
        times = []
        for _ in range(n_runs):
            t0 = time.time()
            match_actions(turns, rules, with_cooldown=True).count()
            times.append(time.time() - t0)
        out["batch_s"] = round(sorted(times)[len(times) // 2], 3)

    if "stream" in legs:
        from logeventprocessor_spark.streaming.pipeline import start_pipeline

        def stream_steady(tag):
            """Steady-state streaming throughput: run the availableNow
            ladder and measure rows/total-busy-time from the query's
            own progress (excludes JVM/query setup and the final
            no-data batch). Also returns the per-batch phase
            decomposition and (optionally) Arrow IPC volume."""
            tmp = tempfile.mkdtemp(prefix=f"scale{cpus}_{tag}_")
            meter = None
            if want_ipc:
                sc = spark.sparkContext
                meter = tuple(sc.accumulator(0) for _ in range(4))
            try:
                q, sink = start_pipeline(
                    spark, input_dir, rules,
                    out_dir=f"{tmp}/out", checkpoint_dir=f"{tmp}/ckpt",
                    watermark="10 minutes", max_files_per_trigger=mfpt,
                    ipc_meter=meter,
                )
                q.awaitTermination(3600)
                rows = dur = 0
                for p in q.recentProgress:
                    if p["numInputRows"] > 0:
                        rows += p["numInputRows"]
                        dur += p["batchDuration"] / 1000.0
                phases = [
                    ph for ph in getattr(sink, "phases", [])
                ]
                ipc = (
                    {
                        "in_bytes": meter[0].value,
                        "in_rows": meter[1].value,
                        "out_bytes": meter[2].value,
                        "out_rows": meter[3].value,
                    }
                    if meter is not None
                    else None
                )
                return (rows / dur if dur else 0.0), phases, ipc
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        stream_steady("warm")
        stream_tps, phases, ipc = stream_steady("timed")
        out["stream_s"] = round(n_turns / stream_tps, 3) if stream_tps else -1.0
        out["stream_phases"] = phases
        if ipc is not None:
            out["ipc"] = ipc

    if "jvm" in legs:
        # pure-JVM control leg (round-3 verdict task #5c): the same
        # match as whole-stage-codegen RLIKE/regexp_extract with NO
        # Python boundary -- its scaling curve quantifies how much of
        # the pipeline's efficiency loss is the Arrow/Python crossing
        # vs the host itself
        from logeventprocessor_spark.operators.match import match_turns_sql

        match_turns_sql(turns, rules).count()  # warm
        times = []
        for _ in range(2):  # best-of across mirrored legs absorbs noise
            t0 = time.time()
            match_turns_sql(turns, rules).count()
            times.append(time.time() - t0)
        out["jvm_match_s"] = round(min(times), 3)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
