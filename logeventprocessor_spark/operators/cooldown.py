"""Per-rule cooldown suppression -- the keyed-state CEP operator.

Reference semantics (/root/reference/LogEventProcessor/
ActionManager.cpp:96-110, state map ActionManager.h:148-150): if a rule
fired less than ``cooldown_ms`` ago, suppress this fire; suppressed
fires do NOT advance the clock (the map is only updated when the rule
actually fires). The reference keys this by rule on its single implicit
stream; we key by ``(conv_id, rule_id)`` and define "ago" in EVENT TIME
(deterministic; see SURVEY.md 7.4).

Batch realization is SINGLE-PASS and SINGLE-SHUFFLE, designed for the
100 TB case where the match stream is far smaller than the turn stream
but still too large to scan twice:

    matches -> repartition(conv_id, rule_id)
            -> sortWithinPartitions(conv_id, rule_id, ts, turn_idx)
            -> mapInArrow(C++ hot/cold split + group-aware greedy scan)

``mapInArrow`` (not ``applyInPandas``) avoids one Python call per
(conv, rule) group -- a partition's many groups are processed in one
Arrow batch; rows of zero-cooldown rules pass straight through as a
zero-copy C++ filter and never become Python objects. Because Arrow
may split a partition into multiple record batches, the trailing group
of each chunk is carried into the next chunk so no keyed scan is ever
cut mid-group.

The streaming form (streaming/batch_state.py) is this same operator,
seeded per micro-batch with each (conv_id, rule_id) key's last fire
from the previous batch's snapshot (``prior=``), so the two paths
cannot diverge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from logeventprocessor_spark.rules import Rule


def apply_cooldown(
    matches: DataFrame,
    rules: list[Rule],
    num_partitions: int | None = None,
    prior: DataFrame | None = None,
) -> DataFrame:
    """matches (MATCHES_SCHEMA) -> matches with cooldown-suppressed
    fires removed. No-op (no shuffle at all) when no rule has a
    cooldown.

    Arrow-native hot/cold split: rows of zero-cooldown rules are passed
    through with a C++ filter (``pc.is_in``) and NEVER become pandas --
    only the (typically small) cooldown-bearing subset is converted for
    the keyed greedy scan. Converting every match row to pandas was the
    dominant cost of this operator once match went Arrow-native
    (profiled: cooldown 3.5 s of the 3.9 s batch pipeline at local[16],
    5M turns).

    ``prior``: optional (conv_id, rule_id, prior_ns) frame seeding each
    key's greedy scan with its last fire from an earlier batch -- the
    cross-batch half of the streaming cooldown
    (streaming/batch_state.py). Joined BEFORE the repartition so the
    seed rides the same shuffle; nulls become -1 JVM-side (a ns value
    must never pass through a nullable float, 2^63-scale ints lose
    precision there)."""
    cooldowns = {r.rule_id: r.cooldown_ms for r in rules if r.cooldown_ms > 0}
    if not cooldowns:
        return matches

    from pyspark.sql import functions as F

    # Output schema = the INPUT schema (minus the prior_ns seed): the
    # scan only drops rows, never reshapes them, so extra columns after
    # the MATCHES prefix (e.g. carried role/tool context) pass through
    # untouched -- this is what lets the carry-context pipeline send
    # context THROUGH the gate instead of splitting it off and
    # re-joining after step expansion (a dropDuplicates + join per
    # micro-batch).
    out_schema = matches.schema
    has_prior = prior is not None
    if has_prior:
        cols = matches.columns
        # the USING-join moves its keys to the front; restore the
        # original order -- mapInArrow matches output batches to the
        # declared schema BY POSITION, so a reordered frame would have
        # Spark reading rule_id bytes as turn_idx ints
        matches = (
            matches.join(prior, ["conv_id", "rule_id"], "left")
            .withColumn(
                "prior_ns", F.coalesce(F.col("prior_ns"), F.lit(-1)).cast("long")
            )
            .select(*cols, "prior_ns")
        )

    rep = (
        matches.repartition(num_partitions, "conv_id", "rule_id")
        if num_partitions
        else matches.repartition("conv_id", "rule_id")
    ).sortWithinPartitions("conv_id", "rule_id", "ts", "turn_idx")

    hot_ids = sorted(cooldowns)

    def fn(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        hot_set = pa.array(hot_ids, pa.string())
        schema = None
        carry: pd.DataFrame | None = None

        def scan(pdf: pd.DataFrame) -> pa.RecordBatch | None:
            # Run-boundary numpy scan, NOT a pandas groupby loop: the
            # rows arrive SORTED by (conv_id, rule_id, ts, turn_idx),
            # so each keyed group is one contiguous run. Hot groups are
            # tiny (1-3 fires) and numerous (one per active (conv,
            # rule)); building a pandas sub-frame per group cost
            # ~300 us EACH -- measured +1.5 s on the sf0.1 batch
            # pipeline when fixture v2 doubled the hot-group count
            # (BENCH/batch_ab.json, round-5 verdict task #3).
            # Suppressed fires do not advance the clock; gap test is
            # >= cooldown. ns normalization: frames born from Arrow
            # carry datetime64[us] (an int64 cast would be a silent
            # 1000x cooldown inflation), and a tz-aware column is
            # converted to UTC BEFORE dropping the tz, so ns values
            # are epoch-based whatever the session timezone -- the
            # ``prior`` seed comes from JVM unix_micros (UTC epoch).
            import numpy as np

            s = pdf["ts"]
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            ts_ns = s.to_numpy().astype("datetime64[ns]").astype("int64")
            conv = pdf["conv_id"].to_numpy()
            rule = pdf["rule_id"].to_numpy()
            n = len(pdf)
            brk = np.empty(n, dtype=bool)
            brk[0] = True
            brk[1:] = (conv[1:] != conv[:-1]) | (rule[1:] != rule[:-1])
            starts = np.flatnonzero(brk)
            ends = np.append(starts[1:], n)
            prior = pdf["prior_ns"].to_numpy() if has_prior else None
            keep = np.zeros(n, dtype=bool)
            for s_i, e_i in zip(starts.tolist(), ends.tolist()):
                cd_ns = int(cooldowns[rule[s_i]]) * 1_000_000
                last = None
                if prior is not None:
                    p = int(prior[s_i])
                    if p >= 0:
                        last = p
                for i in range(s_i, e_i):
                    t = int(ts_ns[i])
                    if last is None or t - last >= cd_ns:
                        keep[i] = True
                        last = t
            if not keep.any():
                return None
            out = pdf[keep]
            if has_prior:
                out = out.drop(columns=["prior_ns"])
            return pa.RecordBatch.from_pandas(
                out, schema=schema, preserve_index=False
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            if schema is None:
                schema = rb.schema
                if has_prior:
                    schema = schema.remove(schema.get_field_index("prior_ns"))
            rule_col = rb.column(rb.schema.get_field_index("rule_id"))
            hot_mask = pc.is_in(rule_col, value_set=hot_set)
            cold = rb.filter(pc.invert(hot_mask))
            if cold.num_rows:
                if has_prior:
                    cold = cold.select([f.name for f in schema])
                yield cold  # zero-copy pass-through, no Python objects
            hot = rb.filter(hot_mask)
            if hot.num_rows == 0:
                continue
            pdf = hot.to_pandas()
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the trailing (conv_id, rule_id) group: Arrow
            # may have split this partition mid-group (rows are sorted,
            # so only the LAST group can continue into the next batch)
            last = pdf.iloc[-1]
            tail = (pdf["conv_id"].to_numpy() == last["conv_id"]) & (
                pdf["rule_id"].to_numpy() == last["rule_id"]
            )
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                out = scan(head)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = scan(carry)
            if out is not None:
                yield out

    return rep.mapInArrow(fn, schema=out_schema)
