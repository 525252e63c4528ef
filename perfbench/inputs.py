"""Seeded workload inputs and their independent oracle.

The engine only ever sees parquet files written here. The expected
action rows come from ``oracle.oracle_matches`` (plain-Python ``re``,
no Spark), cached on disk by the content of the corpus, the rule set and
the oracle's source, and always computed outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd

from logeventprocessor_spark import oracle, rules as rules_module
from logeventprocessor_spark.generator import make_transcripts_fast
from logeventprocessor_spark.oracle import oracle_matches
from logeventprocessor_spark.schema import ACTION_KEY

# replay_stateful: ~102K turns of 2K conversations shaped like the bench
# corpus (~48 turns each); with every rule on a 10-minute cooldown ~37%
# of fires are suppressed. Landed as 50 files and drained 30 files per
# trigger -> two micro-batches whose 60/40 split keeps the per-file
# latency median inside a drain's first batch.
REPLAY_CORPUS = dict(n_convs=2_000, mean_turns=48, n_skewed=2, skew_factor=20)
REPLAY_FILES = 50
REPLAY_FILES_PER_TRIGGER = 30

# live_tail: files of ~150 turns landed 7 per second (~1K turns/s). The
# engine keeps up: its micro-batches are ~3 s whether they read 200 or
# 4,500 turns, so at this rate the per-batch fixed cost dominates.
TAIL_FILE_TURNS = 150
TAIL_FILES_PER_S = 7

# live_tail's warm-up: one small file that drives every operator of the
# measured query once
WARMUP_CORPUS = dict(n_convs=40, mean_turns=48, n_skewed=1)

VALUE_COLS = ["rule_idx", "extracted", "action_type", "rendered_value", "ts"]
CONTEXT_COLS = ["role", "tool"]


def corpus_seed(seed: int, salt: int = 0) -> int:
    return (int(seed) * 2 + salt) % (2**32)


def replay_corpus(seed: int) -> pd.DataFrame:
    return make_transcripts_fast(seed=corpus_seed(seed), **REPLAY_CORPUS)


def tail_corpus(seed: int, n_files: int) -> pd.DataFrame:
    n_convs = max(1, n_files * TAIL_FILE_TURNS // 50)  # ~50 turns/conv
    return make_transcripts_fast(
        n_convs=n_convs, mean_turns=48, seed=corpus_seed(seed),
        n_skewed=max(1, n_convs // 100),
    )


def warmup_corpus(seed: int) -> pd.DataFrame:
    return make_transcripts_fast(seed=corpus_seed(seed, 1), **WARMUP_CORPUS)


# -- oracle ----------------------------------------------------------------


def _candidate_rows(turns: pd.DataFrame, rules) -> pd.DataFrame:
    """Rows whose text some enabled rule's pattern can match (the
    oracle's own ``re.search`` + IGNORECASE test, run once per DISTINCT
    text). A row no rule matches yields no action and never touches
    cooldown state, so the oracle's output on these rows equals its
    output on all rows -- only ~5x faster."""
    pats = [re.compile(r.pattern, re.IGNORECASE) for r in rules if r.enabled]
    text = turns["text"].fillna("")
    hit = {t: any(p.search(t) for p in pats) for t in text.unique()}
    return turns[text.map(hit).to_numpy(dtype=bool)]


def _cache_key(turns: pd.DataFrame, rules) -> str:
    """Hash of everything the expected rows depend on: the corpus rows,
    the rule set, and the source of the oracle, of the rule type it
    reads and of this module."""
    h = hashlib.sha256()
    h.update(pd.util.hash_pandas_object(turns, index=False).to_numpy().tobytes())
    h.update(json.dumps(list(turns.columns)).encode())
    h.update(json.dumps([repr(r) for r in rules]).encode())
    for src in (oracle.__file__, rules_module.__file__, __file__):
        with open(src, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]


def expected_actions(turns: pd.DataFrame, rules, cache_dir: str) -> pd.DataFrame:
    """``oracle_matches`` over ``turns``, cached on disk by content."""
    path = os.path.join(cache_dir, f"oracle-{_cache_key(turns, rules)}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    exp = oracle_matches(_candidate_rows(turns, rules), rules)
    exp = exp.drop(columns=["suppressed_by_cooldown"])
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    exp.to_parquet(tmp, index=False)
    os.replace(tmp, path)
    return exp


# -- comparison ------------------------------------------------------------


def read_sink(out_dir: str) -> pd.DataFrame:
    """Every row the sink committed, read straight from its batch
    directories (no engine code, no de-duplication)."""
    root = os.path.join(out_dir, "batches")
    parts = []
    for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        bd = os.path.join(root, d)
        for name in sorted(os.listdir(bd)):
            if name.endswith(".parquet"):
                parts.append(pd.read_parquet(os.path.join(bd, name)))
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    ts = pd.to_datetime(out["ts"])
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    out["ts"] = ts.astype("datetime64[us]")
    for c in ("turn_idx", "rule_idx", "step_idx"):
        out[c] = out[c].astype("int64")
    for c in ("conv_id", "rule_id", "extracted", "action_type", "rendered_value"):
        out[c] = out[c].fillna("").astype(str)
    return out


def compare_actions(got: pd.DataFrame, exp: pd.DataFrame,
                    turns: pd.DataFrame | None = None) -> dict:
    """Count expected rows the sink lacks, rows it has that were not
    expected (a second copy of a key counts too), and rows whose values
    differ -- or, with ``turns``, whose carried role/tool differ from
    the source turn's. Row order is ignored."""
    exp = _norm(exp)
    if got.empty:
        return {"expected": len(exp), "missing": len(exp), "unexpected": 0,
                "changed": 0}
    got = _norm(got)
    dup = got.duplicated(ACTION_KEY, keep="first")
    got = got[~dup]
    m = exp[ACTION_KEY + VALUE_COLS].merge(
        got, on=ACTION_KEY, how="outer", suffixes=("_exp", ""), indicator=True
    )
    both = m[m["_merge"] == "both"]
    diff = np.zeros(len(both), dtype=bool)
    for c in VALUE_COLS:
        diff |= (both[f"{c}_exp"] != both[c]).to_numpy()
    if turns is not None:
        src = turns[["conv_id", "turn_idx"] + CONTEXT_COLS].astype(
            {"turn_idx": "int64"})
        ctx = both[ACTION_KEY + CONTEXT_COLS].merge(
            src, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_src"))
        for c in CONTEXT_COLS:
            diff |= (ctx[c].fillna("") != ctx[f"{c}_src"].fillna("")).to_numpy()
    return {
        "expected": len(exp),
        "missing": int((m["_merge"] == "left_only").sum()),
        "unexpected": int((m["_merge"] == "right_only").sum() + dup.sum()),
        "changed": int(diff.sum()),
    }


def error_count(c: dict) -> int:
    return c["missing"] + c["unexpected"] + c["changed"]
