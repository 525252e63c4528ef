"""Open-loop load generator for the ``live_tail`` workload, run as its own
process so its schedule never waits on the engine.

    python3 tail_gen.py <staging_dir> <watch_dir> <t0> <interval_s> <log>

Renames the pre-built files of ``staging_dir`` (in name order) into
``watch_dir``, file i when ``t0 + i * interval_s`` (epoch seconds) is
due, and writes one JSON list of {file, due, landed} to ``log``. A
rename within one file system is atomic, so the engine never sees a
partial file.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(staging: str, watch: str, t0: float, interval: float, log: str) -> None:
    names = sorted(n for n in os.listdir(staging) if n.endswith(".parquet"))
    stamps = []
    for i, name in enumerate(names):
        due = t0 + i * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(watch, name))
        stamps.append({"file": name, "due": due, "landed": time.time()})
    tmp = f"{log}.tmp"
    with open(tmp, "w") as f:
        json.dump(stamps, f)
    os.replace(tmp, log)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]),
         sys.argv[5])
