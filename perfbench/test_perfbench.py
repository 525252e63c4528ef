"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import measure  # noqa: E402
from logeventprocessor_spark.generator import (  # noqa: E402
    make_transcripts,
    write_transcripts_parquet,
)
from logeventprocessor_spark.oracle import oracle_matches  # noqa: E402
from logeventprocessor_spark.rules import (  # noqa: E402
    canonical_rules,
    rules_with_cooldown,
)


@pytest.mark.parametrize("n, expected", [
    (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert measure.tail_percentile(n) == expected


def test_percentile_interpolates():
    assert measure.percentile([5, 1, 3, 2, 4], 50) == 3
    assert measure.percentile([1, 2, 3, 4], 50) == 2.5
    assert measure.percentile(range(11), 90) == pytest.approx(9.0)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def _entry(name, batch):
    return json.dumps({"path": f"file:///in/{name}", "timestamp": 1,
                       "batchId": batch})


def test_files_join_to_the_commit_time_of_their_batch(tmp_path):
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "out")
    src = os.path.join(ckpt, "sources", "0")
    # batch 0's entries live in a compacted log, batch 1 in a plain one;
    # a temp file mid-rename is ignored
    _write(os.path.join(src, "9.compact"),
           "v1\n" + _entry("a.parquet", 0) + "\n" + _entry("b.parquet", 0))
    _write(os.path.join(src, "10"), "v1\n" + _entry("c.parquet", 1))
    _write(os.path.join(src, ".11.abc.tmp"), "v1\n" + _entry("d.parquet", 2))
    _write(os.path.join(src, "11"), "v1\n" + _entry("e.parquet", 2))
    _write(os.path.join(ckpt, "commits", "0"), "v1\n{}")
    _write(os.path.join(ckpt, "commits", "1"), "v1\n{}")
    _write(os.path.join(sink, "lineage", "batch_0.json"),
           json.dumps({"batch_id": 0, "ts": 105.0}))
    _write(os.path.join(sink, "lineage", "batch_1.json"),
           json.dumps({"batch_id": 1, "ts": 111.5}))

    batch_of = measure.file_batches(ckpt)
    assert batch_of == {"a.parquet": 0, "b.parquet": 0, "c.parquet": 1,
                        "e.parquet": 2}
    assert measure.committed_batches(ckpt) == {0, 1}
    due = {"a.parquet": 100.0, "b.parquet": 101.0, "c.parquet": 110.0,
           "e.parquet": 112.0, "never_read.parquet": 113.0}
    lat, batches, missing = measure.file_latencies(
        due, batch_of, measure.sink_write_times(sink))
    assert lat == [5.0, 4.0, 1.5]
    assert batches == {0, 1}
    assert missing == ["e.parquet", "never_read.parquet"]


def test_latency_support_counts_batches_not_files():
    # 100 files read by 5 batches: 100 latencies but only 5 write times,
    # too few independent samples for any percentile
    due = {f"f{i:03d}.parquet": float(i) for i in range(100)}
    batch_of = {f: i // 20 for i, f in enumerate(sorted(due))}
    written = {b: 20.0 * (b + 1) + 3.0 for b in range(5)}
    lat, batches, missing = measure.file_latencies(due, batch_of, written)
    assert len(lat) == 100 and not missing
    assert measure.tail_percentile(len(lat)) == 90.0
    assert measure.tail_percentile(len(batches)) is None


def _expected():
    pdf = make_transcripts(n_convs=6, seed=7)
    rules = canonical_rules()
    exp = oracle_matches(pdf, rules).drop(columns=["suppressed_by_cooldown"])
    assert len(exp) >= 5
    return pdf, exp


def test_comparison_accepts_a_reordered_exact_copy():
    pdf, exp = _expected()
    got = exp.sample(frac=1.0, random_state=1)
    got["ts"] = got["ts"].dt.tz_localize("UTC")  # as a parquet reader returns it
    c = inputs.compare_actions(got, exp)
    assert inputs.error_count(c) == 0 and c["expected"] == len(exp)


def test_comparison_flags_dropped_extra_and_changed_rows():
    pdf, exp = _expected()
    got = exp.iloc[1:].copy()  # row 0 dropped
    got.loc[got.index[0], "rendered_value"] = "tampered"  # one row changed
    extra = exp.iloc[[2]].copy()
    extra["turn_idx"] = 10_000  # a key the oracle never produced
    dup = exp.iloc[[3]]  # a second delivery of an expected key
    got = pd.concat([got, extra, dup], ignore_index=True)
    c = inputs.compare_actions(got, exp)
    assert (c["missing"], c["unexpected"], c["changed"]) == (1, 2, 1)


def test_comparison_checks_carried_context_against_the_source_turn():
    pdf, exp = _expected()
    ctx = pdf[["conv_id", "turn_idx", "role", "tool"]]
    got = exp.merge(ctx, on=["conv_id", "turn_idx"])
    assert inputs.error_count(inputs.compare_actions(got, exp, pdf)) == 0
    got.loc[0, "role"] = "not-the-source-role"
    assert inputs.compare_actions(got, exp, pdf)["changed"] == 1


def test_candidate_filter_leaves_the_oracle_unchanged(tmp_path):
    pdf = make_transcripts(n_convs=20, seed=3)
    for rules in (canonical_rules(), rules_with_cooldown(canonical_rules(), 600_000)):
        full = oracle_matches(pdf, rules).drop(columns=["suppressed_by_cooldown"])
        fast = inputs.expected_actions(pdf, rules, str(tmp_path))
        pd.testing.assert_frame_equal(fast.reset_index(drop=True), full)


def test_oracle_cache_is_keyed_on_corpus_content(tmp_path):
    pdf = make_transcripts(n_convs=6, seed=7)
    rules = canonical_rules()
    before = inputs.expected_actions(pdf, rules, str(tmp_path))
    changed = pdf.copy()
    changed.loc[changed.index[0], "text"] = "nothing any rule matches"
    assert inputs._cache_key(changed, rules) != inputs._cache_key(pdf, rules)
    assert inputs._cache_key(pdf.copy(), rules) == inputs._cache_key(pdf, rules)
    cached = inputs.expected_actions(pdf.copy(), rules, str(tmp_path))
    pd.testing.assert_frame_equal(cached, before)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_input_bytes_other_seed_other_corpus(tmp_path):
    def files(seed, tag):
        return write_transcripts_parquet(inputs.replay_corpus(seed),
                                         str(tmp_path / tag), inputs.REPLAY_FILES)

    a, b, c = files(5, "a"), files(5, "b"), files(6, "c")
    assert len(a) == inputs.REPLAY_FILES
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert not inputs.tail_corpus(5, 20).equals(inputs.tail_corpus(6, 20))
    pd.testing.assert_frame_equal(inputs.tail_corpus(5, 20),
                                  inputs.tail_corpus(5, 20))
