"""The Spark side of the benchmark: session set-up, the two streaming
workloads, the isolated operator passes of the traced run, and the
metrics built from them.

Layers are timed only from outside the package: around calls into its
public functions, from Spark's own streaming progress events, and from
the per-batch phase record (gate, sink write, advance) that
``start_pipeline``'s snapshot path keeps on the sink it returns
(``sink.phases``). The engine records all three anyway, so a traced run
does no extra work while it is measured.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import functions as F

import inputs
import measure
from logeventprocessor_spark.generator import write_transcripts_parquet
from logeventprocessor_spark.operators.cooldown import apply_cooldown
from logeventprocessor_spark.operators.match import match_turns, prefilter_condition
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.rules import canonical_rules, rules_with_cooldown
from logeventprocessor_spark.schema import TRANSCRIPTS_SCHEMA
from logeventprocessor_spark.session import get_spark
from logeventprocessor_spark.streaming.pipeline import start_pipeline
from logeventprocessor_spark.streaming.sink import ParquetUpsertSink

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_DRAINS = 2
COMMIT_WAIT_S = 120.0

# progress phases in the order Spark runs them inside one trigger
PHASES = [
    ("latestOffset", "streaming.pipeline.latest_offset"),
    ("walCommit", "streaming.pipeline.wal_commit"),
    ("getBatch", "streaming.pipeline.get_batch"),
    ("queryPlanning", "streaming.pipeline.query_planning"),
    ("addBatch", "streaming.pipeline.add_batch"),
    ("commitOffsets", "streaming.pipeline.commit_offsets"),
]
# the foreachBatch body in the order it runs: (sink.phases key, span)
PROCESS = [
    ("gate_plan_s", "streaming.batch_state.gate"),
    ("sink_write_s", "streaming.sink.write"),
    ("advance_s", "streaming.batch_state.advance"),
]


@dataclass(frozen=True)
class Query:
    rules: list
    join: bool


def replay_query() -> Query:
    # every rule hot (a 10-minute cooldown suppresses ~38% of fires) and
    # the stream-stream context join on: every stateful layer works
    return Query(rules_with_cooldown(canonical_rules(), 600_000), True)


def tail_query() -> Query:
    return Query(canonical_rules(), False)


def start(spark, q: Query, input_dir: str, unit_dir: str, **kw):
    return start_pipeline(
        spark, input_dir, q.rules,
        out_dir=os.path.join(unit_dir, "out"),
        checkpoint_dir=os.path.join(unit_dir, "ckpt"),
        with_context_join=q.join, **kw,
    )


# -- session ---------------------------------------------------------------


def open_session(tmp_dir: str):
    nproc = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench", master=f"local[{nproc}]",
        # keep the JVM's scratch files (native libs, spills) in the run
        # dir, and write no hsperfdata file to the system temp directory
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"},
    )


def close_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM quits when its stdin closes."""
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(q: Query, warm_dir: str, files_per_trigger, run_dir: str):
    """Session start + one drain of ``warm_dir`` through the measured
    query: Python-worker start, first-run codegen and JIT warm-up.
    Returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = open_session(os.path.join(run_dir, "tmp"))
    query, _ = start(spark, q, warm_dir, os.path.join(run_dir, "warmup"),
                     max_files_per_trigger=files_per_trigger)
    query.awaitTermination()
    return spark, time.perf_counter() - t0


# -- one measured unit: a replay drain or the live query -------------------


@dataclass
class Unit:
    name: str
    dir: str
    t0: float  # start_pipeline called
    t_started: float  # start_pipeline returned
    t_stop: float  # last batch done: stop requested / termination seen
    t_end: float  # query gone
    progress: list
    phases: list  # sink.phases: per-batch gate / sink write / advance
    due: dict  # input file -> epoch second it was due
    extra: dict = field(default_factory=dict)

    @property
    def out(self) -> str:
        return os.path.join(self.dir, "out")

    @property
    def ckpt(self) -> str:
        return os.path.join(self.dir, "ckpt")


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def data_batches(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def replay_drain(spark, q, input_dir, unit_dir, files) -> Unit:
    t0 = time.time()
    query, sink = start(spark, q, input_dir, unit_dir,
                        max_files_per_trigger=inputs.REPLAY_FILES_PER_TRIGGER)
    t1 = time.time()
    query.awaitTermination()
    t2 = time.time()
    return Unit(os.path.basename(unit_dir), unit_dir, t0, t1, t2, t2,
                data_batches(query), list(sink.phases), {f: t0 for f in files})


def live_tail_run(spark, q, staging, watch, unit_dir, rss) -> Unit:
    """Open loop: a separate process lands ``staging``'s files in
    ``watch`` on a fixed schedule while the default-trigger query runs;
    stop once every landed file's batch has committed."""
    files = sorted(n for n in os.listdir(staging) if n.endswith(".parquet"))
    interval = 1.0 / inputs.TAIL_FILES_PER_S
    log = os.path.join(unit_dir, "landing.json")
    t0 = time.time()
    query, sink = start(spark, q, watch, unit_dir, available_now=False,
                        max_files_per_trigger=None)
    t1 = time.time()
    first_due = t1 + 0.2
    gen = subprocess.Popen([
        sys.executable, os.path.join(HERE, "tail_gen.py"), staging, watch,
        repr(first_due), repr(interval), log,
    ])
    rss.exclude.add(gen.pid)
    try:
        gen.wait(timeout=len(files) * interval + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        query.stop()
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    with open(log) as f:
        stamps = json.load(f)
    deadline = time.time() + COMMIT_WAIT_S
    while time.time() < deadline and query.exception() is None:
        batch_of = measure.file_batches(os.path.join(unit_dir, "ckpt"))
        done = measure.committed_batches(os.path.join(unit_dir, "ckpt"))
        if all(batch_of.get(f) in done for f in files):
            break
        time.sleep(0.05)
    t_stop = time.time()
    err = query.exception()
    query.stop()
    t2 = time.time()
    if err is not None:
        raise RuntimeError(f"live query failed: {err}")
    unit = Unit("live", unit_dir, t0, t1, t_stop, t2, data_batches(query),
                list(sink.phases), {s["file"]: s["due"] for s in stamps})
    late = [s["landed"] - s["due"] for s in stamps]
    unit.extra = {
        "generator_late_p50_s": measure.median(late),
        "generator_late_max_s": max(late),
        "offered_turns_per_s": inputs.TAIL_FILE_TURNS * inputs.TAIL_FILES_PER_S,
        "last_landed": max(s["landed"] for s in stamps),
    }
    return unit


# -- isolated operator passes (traced run only) ----------------------------


def isolated_layers(spark, input_dir: str, rules, repeats: int = 3) -> dict:
    """Time the batch operators the streaming query is built from, one
    at a time on the workload's whole corpus (noop sink; the inputs of
    cooldown and steps are cached so each pass times only its layer)."""
    enabled = [r for r in rules if r.enabled]
    hot = [r.rule_id for r in enabled if r.cooldown_ms > 0]
    sc = spark.sparkContext
    turns = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def med(build) -> float:
        return measure.median([timed(build()) for _ in range(repeats)])

    scan_s = med(lambda: turns.select("conv_id", "turn_idx", "text", "ts"))
    meter = None

    def metered():
        nonlocal meter
        meter = tuple(sc.accumulator(0) for _ in range(4))
        return match_turns(turns, enabled, ipc_meter=meter)

    match_s = med(metered)
    rows_in = turns.count()
    cond = prefilter_condition(enabled)
    passed = turns.filter(cond).count() if cond is not None else rows_in
    matches = match_turns(turns, enabled).persist()
    cooled = None
    try:
        rows_hot = matches.filter(F.col("rule_id").isin(hot)).count()
        cool_s = med(lambda: apply_cooldown(matches, rules))
        cooled = apply_cooldown(matches, rules).persist()
        rows_kept = cooled.filter(F.col("rule_id").isin(hot)).count()
        steps_s = med(lambda: expand_steps(cooled, rules))
        steps_rows = expand_steps(cooled, rules).count()
    finally:
        matches.unpersist()
        if cooled is not None:
            cooled.unpersist()
    in_bytes, in_rows, _, out_rows = (a.value for a in meter)
    return {
        "operators.match.scan_s": scan_s,
        "operators.match.busy_s": match_s,
        "operators.match.rows_in": rows_in,
        "operators.match.rows_boundary": in_rows,
        "operators.match.prefilter_pass_ratio": passed / rows_in,
        "operators.match.ipc_bytes_in": in_bytes,
        "operators.match.rows_out": out_rows,
        "operators.cooldown.busy_s": cool_s,
        "operators.cooldown.rows_hot": rows_hot,
        "operators.cooldown.rows_kept": rows_kept,
        "operators.cooldown.keep_ratio": rows_kept / rows_hot if rows_hot else 1.0,
        "operators.steps.busy_s": steps_s,
        "operators.steps.rows_out": steps_rows,
    }


# -- metrics ---------------------------------------------------------------


def _dur(p: dict, *keys) -> float:
    return sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0


def end_to_end(units: list[Unit], n_turns: int, closed_loop: bool) -> dict:
    trig = [_dur(p, "triggerExecution") for u in units for p in u.progress]
    lat, unit_p50, n_batches, unwritten = [], [], 0, []
    for u in units:
        lu, bu, mu = measure.file_latencies(
            u.due, measure.file_batches(u.ckpt), measure.sink_write_times(u.out))
        if not lu:
            raise RuntimeError(f"{u.name}: no input file was ever written")
        lat += lu
        unit_p50.append(measure.median(lu))
        n_batches += len(bu)
        unwritten += mu
    # the independent latency samples are the batches, not the files
    tail = measure.tail_percentile(n_batches)
    if closed_loop:  # input turns / (query start -> termination)
        tps = measure.median([n_turns / (u.t_end - u.t0) for u in units])
    else:  # input turns / time the engine spent in micro-batches
        tps = n_turns / sum(trig)
    return {
        "turns_per_s": tps,
        "batch_p50_s": measure.median(trig),
        # per unit, then across units: pooled over replay drains the
        # median would be the slower drain's first write, a maximum
        "latency_p50_s": measure.median(unit_p50),
        "_samples": {"latency_files": len(lat), "latency_batches": n_batches,
                     "batches": len(trig), "units": len(units),
                     "latency_tail_pct": tail,
                     "latency_tail_s": (measure.percentile(lat, tail)
                                        if tail is not None else None),
                     "files_never_written": len(unwritten)},
    }


def _snapshot_footprint(unit: Unit) -> tuple[int, int]:
    """(keys, bytes) of the largest cooldown snapshot the unit kept."""
    best = (0, 0)
    for snap in glob.glob(os.path.join(unit.out, "cooldown_state", "batch_id=*")):
        if not os.path.exists(os.path.join(snap, "meta.json")):
            continue
        files = glob.glob(os.path.join(snap, "data", "*.parquet"))
        best = max(best, (
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files),
        ))
    return best


def _sink_footprint(unit: Unit) -> tuple[int, int, int]:
    rows = sum(m["rows"] for m in ParquetUpsertSink(unit.out).lineage())
    files = size = 0
    for d, _, names in os.walk(os.path.join(unit.out, "batches")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return rows, size, files


def build_spans(tracer: measure.Tracer, units: list[Unit]) -> None:
    """Record the spans of each unit: query, start, each trigger and its
    progress phases, stop, and under each add_batch the gate, sink write
    and advance of ``sink.phases``, placed around the write's return
    time in the sink's lineage record."""
    for u in units:
        written = measure.sink_write_times(u.out)
        phases = {ph["batch_id"]: ph for ph in u.phases}
        root = tracer.add("streaming.pipeline.query", u.t0, u.t_end, u.name)
        tracer.add("streaming.pipeline.start", u.t0, u.t_started, u.name, root)
        last_end = u.t_started
        for p in u.progress:
            trace = f"{u.name}/b{p['batchId']}"
            t = _epoch(p["timestamp"])
            trig = tracer.add("streaming.pipeline.trigger", t,
                              t + _dur(p, "triggerExecution"), trace, root)
            last_end = max(last_end, t + _dur(p, "triggerExecution"))
            for key, name in PHASES:
                d = _dur(p, key)
                sid = tracer.add(name, t, t + d, trace, trig)
                t += d
                if key == "addBatch":
                    add_id = sid
            ph = phases.get(p["batchId"])
            if ph is not None and p["batchId"] in written:
                t = written[p["batchId"]] - ph["sink_write_s"] - ph["gate_plan_s"]
                for key, name in PROCESS:
                    tracer.add(name, t, t + ph[key], trace, add_id)
                    t += ph[key]
        tracer.add("streaming.pipeline.stop", min(last_end, u.t_stop), u.t_end,
                   u.name, root)


def per_layer(units: list[Unit], iso: dict) -> tuple[dict, list[dict]]:
    """The per-layer metrics of a traced run, and its spans."""
    tracer = measure.Tracer()
    build_spans(tracer, units)
    self_t = measure.self_times(tracer.spans)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)

    def durs(name):
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    prog = [p for u in units for p in u.progress]
    add_self = [self_t[s["id"]] for s in by_name["streaming.pipeline.add_batch"]]
    phases = [ph for u in units for ph in u.phases]

    def phase(key):
        return [ph[key] for ph in phases]

    lag = []
    for u in units:
        batch_of = measure.file_batches(u.ckpt)
        for p in u.progress:
            t, b = _epoch(p["timestamp"]), p["batchId"]
            lag.append(sum(1 for f, due in u.due.items()
                           if due <= t and batch_of.get(f, b) >= b))

    def state(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    covered = wall = 0.0
    for u in units:
        tops = [(s["start"], s["end"]) for s in tracer.spans
                if s["trace"].split("/")[0] == u.name and s["name"] in (
                    "streaming.pipeline.start", "streaming.pipeline.trigger",
                    "streaming.pipeline.stop")]
        covered += measure.covered_seconds(tops, u.t0, u.t_end)
        wall += u.t_end - u.t0
    last = units[-1]
    state_keys, state_bytes = _snapshot_footprint(last)
    sink_rows, sink_bytes, sink_files = _sink_footprint(last)
    writes = phase("sink_write_s")
    out = {
        "streaming.pipeline.batches": len(prog),
        "streaming.pipeline.add_batch_s": measure.median(
            [_dur(p, "addBatch") for p in prog]),
        "streaming.pipeline.add_batch_self_s": measure.median(add_self),
        "streaming.pipeline.planning_s": measure.median(
            [_dur(p, "queryPlanning", "getBatch") for p in prog]),
        "streaming.pipeline.offset_log_s": measure.median(
            [_dur(p, "latestOffset", "walCommit", "commitOffsets") for p in prog]),
        "streaming.pipeline.start_s": measure.median(durs("streaming.pipeline.start")),
        "streaming.pipeline.stop_s": measure.median(durs("streaming.pipeline.stop")),
        "streaming.pipeline.source_lag_files": measure.median(lag),
        "streaming.pipeline.join_state_rows": max(state(p, "numRowsTotal") for p in prog),
        "streaming.pipeline.join_state_bytes": max(
            state(p, "memoryUsedBytes") for p in prog),
        "streaming.pipeline.join_commit_s": measure.median(
            [state(p, "commitTimeMs") / 1000.0 for p in prog]),
        "streaming.batch_state.gate_s": measure.median(phase("gate_plan_s")),
        "streaming.batch_state.advance_s": measure.median(phase("advance_s")),
        "streaming.batch_state.state_keys": state_keys,
        "streaming.batch_state.state_bytes": state_bytes,
        "streaming.sink.write_s": measure.median(writes),
        "streaming.sink.write_total_s": sum(writes),
        "streaming.sink.rows": sink_rows,
        "streaming.sink.bytes": sink_bytes,
        "streaming.sink.files": sink_files,
        "trace.coverage": covered / wall,
    }
    out.update(iso)
    return out, tracer.spans


# -- the workloads ---------------------------------------------------------


def _outcome(units, exp, turns) -> dict:
    counts = {"expected": 0, "missing": 0, "unexpected": 0, "changed": 0}
    for u in units:
        c = inputs.compare_actions(inputs.read_sink(u.out), exp, turns)
        for k in counts:
            counts[k] += c[k]
    return counts


def run_replay_stateful(seed, seconds, trace, run_dir, cache_dir, rss) -> dict:
    q = replay_query()
    turns = inputs.replay_corpus(seed)
    in_dir = os.path.join(run_dir, "input")
    files = [os.path.basename(p) for p in
             write_transcripts_parquet(turns, in_dir, inputs.REPLAY_FILES)]
    exp = inputs.expected_actions(turns, q.rules, cache_dir)
    units, iso = [], {}
    with rss:
        # the warm-up is one full drain of the same input: the first drain
        # of a session runs ~25% slower than the ones after it
        spark, setup_s = set_up(q, in_dir, inputs.REPLAY_FILES_PER_TRIGGER,
                                run_dir)
        try:
            deadline = time.time() + seconds
            while len(units) < MIN_DRAINS or time.time() < deadline:
                units.append(replay_drain(
                    spark, q, in_dir, os.path.join(run_dir, f"d{len(units)}"),
                    files))
            if trace:
                iso = isolated_layers(spark, in_dir, q.rules)
        finally:
            close_session(spark)
    return _finish(units, turns, exp, turns, True, setup_s, rss, trace, iso)


def run_live_tail(seed, seconds, trace, run_dir, cache_dir, rss) -> dict:
    q = tail_query()
    n_files = max(1, int(round(seconds * inputs.TAIL_FILES_PER_S)))
    turns = inputs.tail_corpus(seed, n_files)
    staging = os.path.join(run_dir, "staging")
    write_transcripts_parquet(turns, staging, n_files)
    watch = os.path.join(run_dir, "watch")
    os.makedirs(watch)
    warm = os.path.join(run_dir, "warm_input")
    write_transcripts_parquet(inputs.warmup_corpus(seed), warm, 1)
    exp = inputs.expected_actions(turns, q.rules, cache_dir)
    iso = {}
    with rss:
        spark, setup_s = set_up(q, warm, None, run_dir)
        try:
            unit = live_tail_run(spark, q, staging, watch,
                                 os.path.join(run_dir, "live"), rss)
            if trace:
                iso = isolated_layers(spark, watch, q.rules)
        finally:
            close_session(spark)
    rec = _finish([unit], turns, exp, None, False, setup_s, rss, trace, iso)
    written = measure.sink_write_times(unit.out)
    batch_of = measure.file_batches(unit.ckpt)
    rec["validity"] = dict(unit.extra)
    rec["validity"]["backlog_files_at_last_landing"] = sum(
        1 for f in unit.due
        if written.get(batch_of.get(f), float("inf")) > unit.extra["last_landed"])
    del rec["validity"]["last_landed"]
    return rec


def _finish(units, turns, exp, ctx_turns, closed_loop, setup_s, rss, trace,
            iso) -> dict:
    e2e = end_to_end(units, len(turns), closed_loop)
    samples = e2e.pop("_samples")
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss.mb
    counts = _outcome(units, exp, ctx_turns)
    failed = inputs.error_count(counts)
    rec = {
        "end_to_end": e2e,
        "samples": samples,
        "outcome": dict(counts, error_rate=failed / max(1, counts["expected"])),
        "attempted": counts["expected"],
        "failed": failed,
        "correct": failed == 0 and samples["files_never_written"] == 0,
        "turns": len(turns),
        "units": [{
            "name": u.name, "wall_s": u.t_end - u.t0,
            "batch_s": [_dur(p, "triggerExecution") for p in u.progress],
            "batch_rows": [p["numInputRows"] for p in u.progress],
        } for u in units],
    }
    if trace:
        rec["per_layer"], rec["spans"] = per_layer(units, iso)
    return rec


WORKLOADS = {
    "replay_stateful": run_replay_stateful,
    "live_tail": run_live_tail,
}
