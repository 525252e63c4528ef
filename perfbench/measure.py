"""Measurement helpers that need no Spark: percentiles, spans and their
self times, the file -> micro-batch -> commit-time join, and a peak-RSS
sampler over the benchmark's process tree.

Everything here is plain Python so ``test_perfbench.py`` can pin it
without starting a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import threading

# A tail percentile is reported only when at least this many independent
# samples lie beyond it; otherwise it is one or two samples, not a
# percentile. For latency a sample is a micro-batch: every file one batch
# read shares that batch's single write time.
MIN_BEYOND = 10
PERCENTILE_LADDER = (50.0, 90.0, 99.0, 99.9)


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = (len(s) - 1) * p / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (rank - lo)


def tail_percentile(n: int, ladder=PERCENTILE_LADDER) -> float | None:
    """The highest percentile of ``ladder`` with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when not even the median has."""
    best = None
    for p in ladder:
        if n * (100.0 - p) >= MIN_BEYOND * 100.0 - 1e-9:
            best = p
    return best


def median(xs) -> float:
    return percentile(xs, 50.0)


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    trace); times are epoch seconds so they line up with Spark progress
    timestamps and the sink's lineage records. Every span is built after
    the measured units from what the engine already records, so tracing
    adds no work while they run."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name, start, end, trace, parent=None) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "trace": trace,
        })
        return sid


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus its children's durations (children of
    one span run one after another, so their sum is the covered part)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    return {
        s["id"]: max(0.0, s["end"] - s["start"] - child.get(s["id"], 0.0))
        for s in spans
    }


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# -- file -> batch -> commit time -----------------------------------------


def file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """basename of each input file -> the micro-batch that read it, from
    the file-source log in the checkpoint (``sources/<n>/<batch>`` and
    its periodic ``<batch>.compact`` files; each entry names its batch)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "sources", str(source), "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # line 0 is the log version ("v1")
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def committed_batches(checkpoint_dir: str) -> set[int]:
    d = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def sink_write_times(sink_dir: str) -> dict[int, float]:
    """batch id -> epoch time its sink write returned (the sink's own
    per-batch lineage record, stamped when the write finished)."""
    out = {}
    for path in glob.glob(os.path.join(sink_dir, "lineage", "batch_*.json")):
        with open(path) as f:
            meta = json.load(f)
        out[int(meta["batch_id"])] = float(meta["ts"])
    return out


def file_latencies(due: dict[str, float], batch_of: dict[str, int],
                   written: dict[int, float]
                   ) -> tuple[list[float], set[int], list[str]]:
    """Per input file: sink-write return of the batch that read it minus
    the time the file was due. Returns (latencies, the batches whose
    write times they rest on, files never written)."""
    lat, batches, missing = [], set(), []
    for name, t_due in sorted(due.items()):
        b = batch_of.get(name)
        if b is None or b not in written:
            missing.append(name)
        else:
            lat.append(written[b] - t_due)
            batches.add(b)
    return lat, batches, missing


# -- peak resident memory of the process tree ------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared between processes (forked
    Python workers, a JVM mid-fork) are split among their sharers, so
    summing over a process tree counts each resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak of the summed proportional resident set (PSS) of this process
    and all its descendants -- the Python driver, the JVM and the Python
    workers -- sampled every ``interval`` seconds, in MB. Processes listed
    in ``exclude`` (the load generator) are skipped with their subtrees."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        stack, total = [os.getpid()], 0
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            stack.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings (noise from outside this host)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]
