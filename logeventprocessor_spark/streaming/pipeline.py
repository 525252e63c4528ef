"""The streaming engine: the batch CEP pipeline run per micro-batch,
seeded with snapshot state (SURVEY.md 3.2 "Spark analog").

Layout of the query (all public APIs, no custom Catalyst rules):

  readStream(parquet/iceberg, TRANSCRIPTS_SCHEMA)
    -> filter(ts >= late_cutoff)            # F6: reference's startup-time
                                            # late-data rejection
                                            # (ActionSender.cpp:660-677)
    -> mapInArrow(match)                    # M1/M2: vectorized rule match
    [-> stream-stream context join]         # T5, optional
    -> foreachBatch:
         apply_cooldown(prior=snapshot)     # T1: keyed (conv_id, rule_id)
                                            # event-time suppression
         -> broadcast join steps + render   # T3/T4/M3
         -> ParquetUpsertSink               # T2 (stable sort) + T6/K1
                                            # exactly-once idempotent write
         -> snapshot advance                # streaming/batch_state.py

The cooldown is the batch operator (``operators.cooldown.apply_cooldown``)
seeded with each key's last fire from the previous batch's snapshot, so
the batch and streaming semantics cannot diverge; state is one
``last_fire_ns`` per key, evicted once the watermark passes
last_fire + cooldown (bounded state at 10^12-turn scale -- north-rule
requirement).
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from logeventprocessor_spark.operators.match import match_turns, prefilter_condition
from logeventprocessor_spark.operators.steps import expand_steps
from logeventprocessor_spark.rules import Rule, load_rules_yaml
from logeventprocessor_spark.schema import TRANSCRIPTS_SCHEMA
from logeventprocessor_spark.streaming.batch_state import (
    CooldownSnapshotState,
    delay_to_ms,
)
from logeventprocessor_spark.streaming.sink import ParquetUpsertSink


def read_transcripts_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based micro-batch source over the transcripts schema (the
    sandbox stand-in for the Iceberg streaming scan; the reference's
    tail-the-file source S1/S2, LogReader.cpp:49-124 -- Spark's offset
    tracking replaces byte-position bookkeeping)."""
    r = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


SEQUENCE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("a_turn_idx", T.IntegerType(), False),
        T.StructField("b_turn_idx", T.IntegerType(), False),
        T.StructField("a_ts", T.TimestampType(), False),
        T.StructField("b_ts", T.TimestampType(), False),
    ]
)

SEQ_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_ts_ns", T.LongType(), True),
        T.StructField("a_turn_idx", T.IntegerType(), True),
    ]
)


def stream_sequence_detect(
    matches: DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> DataFrame:
    """Streaming T3-generalized: "rule A followed by rule B within
    within_ms", keyed by conv_id (the reference's chained-matcher
    semantics, ActionManager.cpp:188-199, as a CEP sequence operator).
    Emits (conv, a_turn, b_turn, a_ts, b_ts) with the LATEST qualifying
    A per B. State = last A (ts, turn); evicted when the watermark
    passes a_ts + within_ms.
    """

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (conv_id,) = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        g = g[g["rule_id"].isin([rule_a, rule_b])]
        # (ts, turn_idx, is_b) order matches batch sequence_detect and
        # the oracle: at an identical (ts, turn_idx) the A row is
        # processed first so a same-turn A qualifies as "preceding"
        g = g.assign(_is_b=(g["rule_id"] == rule_b).astype(int))
        g = g.drop_duplicates(["turn_idx", "rule_id"]).sort_values(
            ["ts", "turn_idx", "_is_b"], kind="mergesort"
        )
        st = state.getOption
        a_ts_ns = st[0] if st is not None else None
        a_turn = st[1] if st is not None else None
        out = []
        for row in g.itertuples(index=False):
            ts_ns = int(pd.Timestamp(row.ts).value)
            if row.rule_id == rule_b and a_ts_ns is not None:
                if 0 <= ts_ns - a_ts_ns <= within_ms * 1_000_000:
                    out.append(
                        (
                            conv_id,
                            int(a_turn),
                            int(row.turn_idx),
                            pd.Timestamp(a_ts_ns),
                            pd.Timestamp(ts_ns),
                        )
                    )
            # "latest A" state: a late-arriving OLDER A (possible across
            # micro-batches) must never regress the stored timestamp
            if row.rule_id == rule_a and (a_ts_ns is None or ts_ns >= a_ts_ns):
                a_ts_ns, a_turn = ts_ns, int(row.turn_idx)
        if a_ts_ns is not None:
            state.update((int(a_ts_ns), int(a_turn)))
            wm = state.getCurrentWatermarkMs()
            timeout_ms = max(a_ts_ns // 1_000_000 + within_ms + 1000, wm + 1000)
            state.setTimeoutTimestamp(timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts"],
            )

    return matches.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SEQUENCE_SCHEMA,
        stateStructType=SEQ_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


SEQ_ALL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("a_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("a_turn", T.ArrayType(T.IntegerType()), True),
        # B turns already emitted, kept within the watermark horizon:
        # an at-least-once source replaying a B row in a LATER batch
        # must not re-emit its pairs (the batch operator's .distinct()
        # dedups globally; intra-batch dupes are handled by
        # drop_duplicates on the batch frame). Schema widened from the
        # 2-field round-4 form -- UnsafeRow state encoding validates at
        # query start, so upgrading needs a fresh checkpoint (sink is
        # batch-id idempotent; bounded source replay is safe).
        T.StructField("b_ts_ns", T.ArrayType(T.LongType()), True),
        T.StructField("b_turn", T.ArrayType(T.IntegerType()), True),
    ]
)


def stream_sequence_detect_all(
    matches: DataFrame,
    rule_a: str,
    rule_b: str,
    within_ms: int,
    max_as: int = 64,
) -> DataFrame:
    """EVERY-A-pairs streaming semantics (round-3 verdict task #8):
    each B emits one row per buffered A within ``within_ms`` -- the
    counterpart of ``stream_sequence_detect``'s "latest qualifying A".

    State per conv_id is a BOUNDED list of candidate A's:

    * event-time eviction -- an A is dropped once the watermark passes
      ``a_ts + within_ms`` (no future B can pair with it), so state
      size is bounded by the A-rate within one window, not the stream
      length (the 10^12-turn requirement);
    * hard cap ``max_as`` -- the newest entries win (a skew guard for
      pathological conversations; evictions under the cap are recall
      losses by explicit contract, exactly like the reference's
      fixed-size buffers);
    * batch oracle: ``operators.sequence.sequence_detect_all`` -- the
      parity test plants A-bursts and checks both emit identical pair
      sets (tests/test_streaming_extras.py).
    """

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (conv_id,) = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True)
        g = g[g["rule_id"].isin([rule_a, rule_b])]
        g = g.assign(_is_b=(g["rule_id"] == rule_b).astype(int))
        g = g.drop_duplicates(["turn_idx", "rule_id"]).sort_values(
            ["ts", "turn_idx", "_is_b"], kind="mergesort"
        )
        st = state.getOption
        buf: list[tuple[int, int]] = (
            list(zip(st[0], st[1])) if st is not None else []
        )
        # B's whose pairs were already emitted (cross-batch replay
        # guard); old 2-field state tuples have no b columns
        b_done: list[tuple[int, int]] = (
            list(zip(st[2], st[3]))
            if st is not None and len(st) > 3 and st[2] is not None
            else []
        )
        seen = {t for _, t in buf}
        seen_b = {t for _, t in b_done}
        out = []
        within_ns = within_ms * 1_000_000
        for row in g.itertuples(index=False):
            ts_ns = int(pd.Timestamp(row.ts).value)
            if row.rule_id == rule_b:
                if row.turn_idx in seen_b:
                    continue  # replayed B from an earlier batch
                b_done.append((ts_ns, int(row.turn_idx)))
                seen_b.add(row.turn_idx)
                for a_ts_ns, a_turn in buf:
                    # the equal-ts tie rule of the batch operator: an A
                    # at the same timestamp precedes B only when
                    # a_turn <= b_turn (matters for a cross-batch A
                    # that arrived before this B but sorts after it)
                    if (0 <= ts_ns - a_ts_ns <= within_ns) and not (
                        ts_ns == a_ts_ns and a_turn > row.turn_idx
                    ):
                        out.append(
                            (
                                conv_id,
                                int(a_turn),
                                int(row.turn_idx),
                                pd.Timestamp(a_ts_ns),
                                pd.Timestamp(ts_ns),
                            )
                        )
            else:
                if row.turn_idx not in seen:
                    buf.append((ts_ns, int(row.turn_idx)))
                    seen.add(row.turn_idx)
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000
        if buf:
            # evict A's no future B (ts >= watermark) can reach, then
            # apply the hard cap newest-first
            buf = [a for a in buf if a[0] + within_ns >= wm_ns]
            buf.sort(key=lambda a: a[0])
            buf = buf[-max_as:]
        if b_done:
            # a replayed B reaches this operator only while its event
            # time is >= the watermark (Spark drops later replays
            # upstream of stateful ops), so the replay guard only needs
            # entries inside the horizon -- watermark eviction alone
            # bounds it. The cap is a last-resort skew guard and is
            # deliberately MUCH larger than max_as (the guard list is
            # two ints per B vs a recall contract for the A buffer): a
            # conv that emits more than 16*max_as B's inside one
            # watermark horizon can see duplicate pairs re-emitted for
            # its evicted (oldest) B's under at-least-once replay --
            # an explicit bounded-memory/exactness trade, newest wins
            b_done = [b for b in b_done if b[0] >= wm_ns]
            b_done.sort(key=lambda b: b[0])
            b_done = b_done[-16 * max_as:]
        if buf or b_done:
            state.update(
                (
                    [a[0] for a in buf],
                    [a[1] for a in buf],
                    [b[0] for b in b_done],
                    [b[1] for b in b_done],
                )
            )
            wm = state.getCurrentWatermarkMs()
            newest = max(x[0] for x in buf + b_done)
            state.setTimeoutTimestamp(
                max(newest // 1_000_000 + within_ms + 1000, wm + 1000)
            )
        elif st is not None:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts"],
            )

    return matches.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=SEQUENCE_SCHEMA,
        stateStructType=SEQ_ALL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def dedup_stream(stream: DataFrame, keys: list[str]) -> DataFrame:
    """T7 (the email-UID dedup, EmailMonitor.cs:214-217) as a streaming
    operator: drop duplicate keys within the watermark horizon --
    bounded state, exact within the horizon. Requires a watermark
    upstream."""
    return stream.dropDuplicatesWithinWatermark(keys)


def union_response_stream(
    turns: DataFrame, responses: DataFrame
) -> DataFrame:
    """S4 (the email-response feedback ingress): a second source stream
    unioned into the turn stream. ``responses`` must be transcript-
    shaped (role='response'); each source keeps its own watermark
    upstream; Spark takes the min across inputs."""
    return turns.unionByName(responses)


def drop_empty_turns(stream: DataFrame) -> DataFrame:
    """F1 (LogReader.cpp:102): empty lines never become events."""
    return stream.filter(F.length(F.trim(F.col("text"))) > 0)


def scrub_stream_text(stream: DataFrame) -> DataFrame:
    """Ingest-time PII redaction: REPLACE the turn's text with its
    scrubbed form (operators/text.with_pii_scrub -- pure codegen'd
    regexp_replace projection, no state, no shuffle) before any match,
    join, or sink, so raw PII never reaches rule extraction, rendered
    action values, or stored action rows. Stateless like the
    contamination gate, so the streaming and batch forms are the same
    expression -- parity pinned by
    tests/test_streaming_extras.py::test_pii_scrub_ingest_pipeline.
    Works on batch frames too (used there as the batch truth)."""
    from logeventprocessor_spark.operators.text import with_pii_scrub

    cols = stream.columns
    return (
        with_pii_scrub(stream)
        .withColumn("text", F.col("text_clean"))
        .select(*cols)
    )


def stream_join_context(
    matches: DataFrame,
    turns: DataFrame,
    watermark: str = "10 minutes",
    join_window: str = "10 minutes",
) -> DataFrame:
    """T5 as a true stateful STREAM-STREAM join: re-attach full turn
    context (role, tool) to the matched-events stream. Both sides carry
    watermarks; the time-range predicate bounds the join state so Spark
    can evict buffered rows (mandatory at 10^12-turn scale).

    Reference analog: actions carry the original logLine forward
    (ActionManager.h:22, set at ActionManager.cpp:82).
    """
    m = matches.withWatermark("ts", watermark).alias("m")
    t = (
        turns.select("conv_id", "turn_idx", "role", "tool",
                     F.col("ts").alias("turn_ts"))
        .withWatermark("turn_ts", watermark)
        .alias("t")
    )
    return m.join(
        t,
        F.expr(
            f"""m.conv_id = t.conv_id AND m.turn_idx = t.turn_idx
                AND t.turn_ts BETWEEN m.ts - INTERVAL {join_window}
                                  AND m.ts + INTERVAL {join_window}"""
        ),
        "inner",
    ).select(
        "m.conv_id", "m.turn_idx", "m.rule_id", "m.rule_idx",
        "m.extracted", "m.text", "m.ts", "t.role", "t.tool",
    )


def _snapshot_batch(sink: ParquetUpsertSink, ack_types, extra_cols):
    """``run(matches, batch_id, rules, cool)``: the ``foreachBatch``
    body of both entry points -- cooldown gate, steps, sink write,
    snapshot advance. Appends each batch's wall-time decomposition to
    ``sink.phases`` (4 clock reads/batch; the scaling harness reads it)."""
    sink.phases = []

    def run(df: DataFrame, batch_id: int, rules, cool) -> None:
        # ONE cache (the gated matches) and TWO jobs per batch:
        # (1) sink write -- which also populates the cache and
        # computes the watermark's max event time for free via
        # Observation; (2) the fires agg + snapshot write. A
        # previous shape (cache raw matches AND gated, separate
        # max-ts job) measured ~3.7 s of fixed per-batch work that
        # capped streaming scaling (BENCH/BASELINE.md).
        #
        # Context (role/tool) rides THROUGH the gate and the step
        # expansion as pass-through columns (apply_cooldown's
        # output schema mirrors its input; expand_steps appends
        # extra_cols) -- a previous shape split the context off,
        # dropDuplicates'd it, and re-joined after expansion,
        # costing a persist of the raw frame plus an extra
        # exchange+agg and a join PER MICRO-BATCH for values the
        # rows already carried.
        t0 = time.time()
        gated = cool.gate(df, batch_id).persist()
        t_gate = time.time()
        try:
            obs = Observation(f"wm_{batch_id}")
            # watermark source = HOT-rule event time only: cold rows
            # never touch the snapshot, so they must not advance its
            # eviction clock
            wm_src = F.when(
                F.col("rule_id").isin(list(cool.cooldowns)), F.col("ts")
            )
            out = expand_steps(
                gated.observe(obs, F.max(wm_src).alias("max_ts")),
                rules,
                extra_cols=extra_cols,
            )
            sink.write(out, batch_id)
            if ack_types:
                acks = out.filter(
                    F.col("action_type").isin(ack_types)
                ).select(
                    "conv_id", "turn_idx", "rule_id", "step_idx",
                    F.lit("ack").alias("status"), "ts",
                )
                sink.write_table("acks", acks, batch_id)
            t_sink = time.time()
            cool.advance(gated, batch_id, max_ts=obs.get["max_ts"])
            sink.phases.append({
                "batch_id": int(batch_id),
                # plan-build + snapshot read (driver-side)
                "gate_plan_s": round(t_gate - t0, 3),
                # job 1: scan->match->gate->expand->parquet write
                "sink_write_s": round(t_sink - t_gate, 3),
                # job 2: fires agg + snapshot commit
                "advance_s": round(time.time() - t_sink, 3),
            })
        finally:
            gated.unpersist()

    return run


def _start(
    spark: SparkSession,
    stream: DataFrame,
    process,
    checkpoint_dir: str,
    available_now: bool,
    pinned: dict[str, str],
):
    """Start ``stream.writeStream.foreachBatch(process)`` with the
    session confs ``pinned`` into this query (restored after start)."""
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    old_vals = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        return writer.start()
    finally:
        for k, v in old_vals.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def start_pipeline_with_reload(
    spark: SparkSession,
    input_dir: str,
    rules_path: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """T8 hot config reload WITH cross-batch cooldown state: the same
    ``foreachBatch`` body as ``start_pipeline``, with the rule set read
    from ``rules_path`` once per micro-batch on the driver
    (``load_rules_yaml``; reference main.cpp:185-241). The source goes
    straight to ``foreachBatch``, which runs ``match_turns`` on the
    micro-batch, so every batch uses exactly one rule version -- write
    the file with ``rules.publish_rules`` so no batch reads a
    half-written one. Returns (query, sink).

    The cooldown snapshot is keyed (conv_id, rule_id) and outlives rule
    edits (ActionManager.h:148-150 -- the map outlives config swaps),
    so a user editing one rule's pattern keeps the suppression history
    of every rule. Keys of a rule that loses its cooldown are evicted
    at the next ``advance`` (while no rule has a cooldown, no snapshot
    is written and the last one stands). Late rows are dropped as in
    ``start_pipeline``: only cooldown-rule matches behind the watermark."""
    sink = ParquetUpsertSink(out_dir)
    state_dir = os.path.join(out_dir, "cooldown_state")
    delay_ms = delay_to_ms(watermark)
    run = _snapshot_batch(sink, None, ())

    def process(df: DataFrame, batch_id: int) -> None:
        rules = load_rules_yaml(rules_path)
        cool = CooldownSnapshotState(spark, state_dir, rules, delay_ms)
        run(match_turns(df, [r for r in rules if r.enabled]), batch_id,
            rules, cool)

    stream = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
    q = _start(spark, stream, process, checkpoint_dir, available_now, {})
    return q, sink


def start_pipeline(
    spark: SparkSession,
    input_dir: str,
    rules: list[Rule],
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    late_cutoff=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
    ack_types: list[str] | None = None,
    state_store: str | None = None,
    with_context_join: bool = False,
    context_mode: str = "join",
    pii_scrub: bool = False,
    ipc_meter=None,
    state_partitions: int | None = None,
):
    """Wire the full query and start it. Returns (query, sink).

    ONE match pass over all enabled rules in the DAG; the cooldown is a
    seeded batch ``mapInArrow`` inside ``foreachBatch`` with
    per-batch-id parquet state snapshots (streaming/batch_state.py) --
    no per-trigger state-store floor and no hot/cold double source
    scan.

    ``pii_scrub``: redact PII at INGEST (``scrub_stream_text``) so no
    raw PII reaches rule extraction, rendered values, or the sink --
    note this changes match semantics by design (a rule extracting an
    email no longer fires once the email is a ``<EMAIL>`` token).

    ``with_context_join``: every sink row carries the turn's role/tool
    context, via one of two plans (``context_mode``), pinned
    output-identical by tests/test_streaming.py:

    * ``"join"``: the T5 watermarked stream-stream join
      (``stream_join_context``) between match and cooldown. The
      context side is a SECOND scan of the source stream -- the
      inherent price of a true stream-stream join (both sides buffer
      keyed state inside the join window); measured as its own bench
      line (``cep_streaming_ctx_pipeline``). This is the GENERAL T5
      operator: use it when the context comes from a DIFFERENT turn
      or stream (cross-turn enrichment).
    * ``"carry"``: the matched turn's own role/tool ride through the
      match operator's Arrow boundary (``match_turns(carry_cols=...)``,
      one zero-copy ``pc.take`` per column) -- no second scan, no join
      state stores, no extra shuffle. For SAME-turn context this is
      the scale-safe plan (round-5 verdict #4); bench line
      ``cep_streaming_ctx_carry_pipeline``.

    Either way the context columns ride THROUGH the cooldown gate and
    step expansion as pass-through columns (the gate's keyed scan only
    reads conv_id/rule_id/ts and only ever drops rows), so suppression
    semantics are pinned identical to the plain pipeline -- with no
    per-batch context split/dedup/re-join.

    ``state_partitions``: shuffle-partition count pinned into THIS
    query's checkpoint at first start (Spark reads the session conf at
    query planning; the session value is restored right after
    ``start()``). Stateful operators pay a FIXED per-partition cost
    per micro-batch (store open/commit/maintenance x 4 stores per
    partition for a stream-stream join) -- measured at 32 vs 8 on a
    ~100K-row trigger: 24.1 s vs 5.0 s per batch. Size it to the
    per-trigger state volume, not the core count; on a 100 TB cluster
    those are close, at bench scale they are 4x apart.

    ``ack_types``: action types that additionally produce an ``acks``
    row (K4, the reference's acknowledgment email after processing a
    response, ActionSender.cpp:741-764) -- written to a second logical
    table inside the SAME micro-batch write (multi-table exactly-once).

    ``state_store='rocksdb'``: spillable off-heap keyed state for the
    stream-stream context join (``context_mode='join'``, the only
    store-backed state of this query; HDFS-backed in-memory state
    cannot hold one entry per buffered turn at 10^12-turn scale).
    Session-level conf; keep it constant for the lifetime of a
    checkpoint.
    """
    if state_store == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    def source() -> DataFrame:
        s = read_transcripts_stream(spark, input_dir, max_files_per_trigger)
        if pii_scrub:
            # the context side must see the same scrubbed text the
            # match side prefilters on
            s = scrub_stream_text(s)
        if late_cutoff is not None:
            s = s.filter(F.col("ts") >= F.lit(late_cutoff))
        return s

    sink = ParquetUpsertSink(out_dir)
    enabled = [r for r in rules if r.enabled]
    carry_ctx = with_context_join and context_mode == "carry"
    join_ctx = with_context_join and context_mode == "join"
    matched = match_turns(
        source(),
        enabled,
        ipc_meter=ipc_meter,
        carry_cols=("role", "tool") if carry_ctx else (),
    )
    if join_ctx:
        ctx_src = source()
        # the context side only exists to serve MATCHED turns, and
        # a match requires some rule literal -- the same codegen'd
        # prefilter that gates the Arrow boundary prunes the join
        # state ~5x (unfiltered, EVERY turn in the watermark
        # horizon sits in the join's state store)
        pre = prefilter_condition(enabled)
        if pre is not None:
            ctx_src = ctx_src.filter(pre)
        # join_window is a pure state-size knob here: a match row
        # carries the turn's OWN ts, so the equality join always
        # lands at zero time distance -- keep the buffer tight
        matched = stream_join_context(
            matched, ctx_src, watermark, join_window="1 minute"
        )
    cool = CooldownSnapshotState(
        spark,
        os.path.join(out_dir, "cooldown_state"),
        rules,
        delay_to_ms(watermark),
    )
    run = _snapshot_batch(
        sink, ack_types, ("role", "tool") if with_context_join else ()
    )

    def process(df: DataFrame, batch_id: int) -> None:
        run(df, batch_id, rules, cool)

    pinned: dict[str, str] = {}
    if state_partitions is not None:
        pinned["spark.sql.shuffle.partitions"] = str(state_partitions)
    if join_ctx:
        # Skip the trailing NO-DATA micro-batch: for this query it
        # exists only to advance the watermark and evict join state --
        # an INNER time-bounded join emits every pair on the data batch
        # and emits nothing at eviction, so the sink output is
        # byte-identical (A/B at 1M turns local[32]: same 234,056 rows
        # and checksum; wall 8.4 s -> ~6.1 s, the no-data batch's
        # state-store scan + ~full-state eviction commit across
        # 4 stores x state_partitions). Eviction then happens lazily on
        # the next DATA batch -- delayed eviction can only RETAIN extra
        # state, never drop a row that could still match (late rows are
        # filtered at input by the watermark, not by state eviction),
        # so continuous deployments trade a bounded state-size bump
        # between sparse batches for one fewer stateful commit cycle
        # per trigger.
        pinned["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    q = _start(spark, matched, process, checkpoint_dir, available_now, pinned)
    return q, sink
