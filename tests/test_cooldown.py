"""Cooldown keyed-state operator edge cases (SURVEY.md 5.2 #2, T1)."""

from __future__ import annotations

import pandas as pd

from logeventprocessor_spark.generator import transcripts_df
from logeventprocessor_spark.operators.cooldown import apply_cooldown
from logeventprocessor_spark.operators.match import match_turns
from logeventprocessor_spark.oracle import oracle_matches
from logeventprocessor_spark.rules import Rule, RuleStep


def _turns(spark, texts_ts: list[tuple[str, str]], conv="c"):
    pdf = pd.DataFrame(
        {
            "conv_id": [conv] * len(texts_ts),
            "turn_idx": pd.array(range(len(texts_ts)), dtype="int32"),
            "role": ["user"] * len(texts_ts),
            "text": [t for t, _ in texts_ts],
            "tool": [""] * len(texts_ts),
            "ts": pd.to_datetime([ts for _, ts in texts_ts], format="mixed"),
        }
    )
    return pdf, transcripts_df(spark, pdf)


RULES = [
    Rule("ping", 0, "ping", cooldown_ms=5000, steps=(RuleStep(0, "command", "ack"),))
]


def test_exact_boundary_fires(spark):
    """elapsed == cooldown -> fires (>= semantics, pinned by oracle)."""
    pdf, turns = _turns(
        spark,
        [
            ("ping 1", "2024-03-01 00:00:00"),
            ("ping 2", "2024-03-01 00:00:05"),  # exactly 5000 ms -> fires
            ("ping 3", "2024-03-01 00:00:09.999"),  # 4999 ms -> suppressed
        ],
    )
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert sorted(got["turn_idx"].tolist()) == [0, 1]
    exp = oracle_matches(pdf, RULES)
    assert sorted(exp["turn_idx"].tolist()) == [0, 1]


def test_suppressed_fire_does_not_reset_clock(spark):
    """t=0 fires; t=3s suppressed; t=6s fires BECAUSE the clock runs
    from t=0, not from the suppressed t=3s (ActionManager.cpp:96-110
    only updates the map on an actual fire)."""
    pdf, turns = _turns(
        spark,
        [
            ("ping a", "2024-03-01 00:00:00"),
            ("ping b", "2024-03-01 00:00:03"),
            ("ping c", "2024-03-01 00:00:06"),
        ],
    )
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert sorted(got["turn_idx"].tolist()) == [0, 2]
    exp = oracle_matches(pdf, RULES)
    assert sorted(exp["turn_idx"].tolist()) == [0, 2]


def test_cooldown_keyed_per_conversation(spark):
    """Simultaneous fires in different conversations don't suppress
    each other (key = (conv_id, rule_id))."""
    pdf_a, _ = _turns(spark, [("ping", "2024-03-01 00:00:00")], conv="a")
    pdf_b, _ = _turns(spark, [("ping", "2024-03-01 00:00:01")], conv="b")
    pdf = pd.concat([pdf_a, pdf_b], ignore_index=True)
    turns = transcripts_df(spark, pdf)
    got = apply_cooldown(match_turns(turns, RULES), RULES).toPandas()
    assert len(got) == 2


def test_zero_cooldown_is_off(spark):
    rules = [Rule("ping", 0, "ping", cooldown_ms=0,
                  steps=(RuleStep(0, "command", "ack"),))]
    _, turns = _turns(
        spark,
        [("ping", "2024-03-01 00:00:00"), ("ping", "2024-03-01 00:00:00.001")],
    )
    got = apply_cooldown(match_turns(turns, rules), rules).toPandas()
    assert len(got) == 2


def _prior(spark, last_fire: pd.Timestamp, conv="c", rule_id="ping"):
    """A snapshot seed frame: one key's last fire in UTC epoch ns."""
    return spark.createDataFrame(
        [(conv, rule_id, int(last_fire.value))],
        "conv_id string, rule_id string, prior_ns long",
    )


def test_prior_seed_carries_state_across_batches(spark):
    """The ``prior`` seed carries a key's last fire into the next
    batch -- the contract the streaming cooldown relies on: a fire 3 s
    after the seeded one is suppressed, the fire 6 s after is kept."""
    _, turns = _turns(
        spark,
        [
            ("ping b", "2024-03-01 00:00:03"),
            ("ping c", "2024-03-01 00:00:06"),
        ],
    )
    prior = _prior(spark, pd.Timestamp("2024-03-01 00:00:00"))
    got = apply_cooldown(match_turns(turns, RULES), RULES, prior=prior)
    assert got.toPandas()["turn_idx"].tolist() == [1]


def test_prior_seed_tz_aware_is_epoch_based(spark):
    """Under a non-UTC session timezone the scan must compare UTC
    EPOCH ns, not wall time: the seed comes from JVM unix_micros (UTC
    epoch), so a frame dropped to +05:00 wall time would skew every
    cross-batch cooldown by the tz offset (round-4 advice)."""
    base = pd.Timestamp("2024-03-01 00:00:00", tz="UTC")
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user"] * 3,
            "text": ["ping"] * 3,
            "tool": [""] * 3,
            "ts": [base + pd.Timedelta(seconds=s) for s in (0, 3, 6)],
        }
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Karachi")
    try:
        # seed: a fire at base-4s in epoch ns -> +0s is inside the 5 s
        # cooldown (gap 4s), +3s fires (gap 7s), +6s is suppressed (gap
        # 3s). A wall-time skew (+05:00 -> every ts 5h past the seed)
        # would instead fire turn 0 -- which this pins against.
        prior = _prior(spark, base - pd.Timedelta(seconds=4))
        got = apply_cooldown(
            match_turns(transcripts_df(spark, pdf), RULES), RULES, prior=prior
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got["turn_idx"].tolist() == [1]
