#!/usr/bin/env python
"""Round-14 scale probe runner: execute one registered dedup/similarity
key against an arbitrary sf_dir (the 5M-doc sf100rv / low-entropy
fixtures), with the probe-scale scratch layout, and print one JSON line
of evidence: wall, rows, loadavg bracket, peak scratch, and — for the
minhash key — the candidate-volume guard's decision
(llm.dedup.LAST_MINHASH_GUARD).

Usage: python scripts/probe_dedup_scale.py KEY [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _scratch_usage(dirs: list[str]) -> int:
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def main() -> None:
    key = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else str(
        REPO / "testdata" / "sf100rv"
    )
    # Probe-scale scratch: the exact verify of ~1e8 surviving candidate
    # pairs needs ~60 GB of shuffle and sort-spill scratch on top of the
    # job's retained shuffles, more than a single local disk holds (the
    # ENOSPC runs in SCALE.md, "Round-13: the sf100rv probe"). Spread
    # Spark local dirs across tmpfs + disk — the local stand-in for a
    # cluster's per-executor NVMe scratch.
    shm = "/dev/shm/spark_probe"
    os.makedirs(shm, exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", f"{shm},/tmp")
    scratch_dirs = [shm]

    from flume_hive_batch_sink_spark.registry import (
        QUERIES,
        load_all_operators,
    )
    from flume_hive_batch_sink_spark.session import get_spark

    load_all_operators()
    spark = get_spark(f"probe_{key}")

    peak = {"bytes": 0}
    stop = threading.Event()

    def _watch() -> None:
        while not stop.is_set():
            peak["bytes"] = max(peak["bytes"], _scratch_usage(scratch_dirs))
            stop.wait(5.0)

    watcher = threading.Thread(target=_watch, daemon=True)
    watcher.start()

    load0 = round(os.getloadavg()[0], 2)
    t0 = time.perf_counter()
    # persist so the certificate-row fetch below reads the materialized
    # result instead of re-executing a minutes-scale plan
    df = QUERIES[key](spark, sf_dir).persist()
    n = df.count()
    rows_payload = (
        [r.asDict() for r in df.collect()] if n <= 3 else None
    )
    dt = time.perf_counter() - t0
    df.unpersist()
    stop.set()
    watcher.join(timeout=10.0)

    out = {
        "key": key,
        "sf_dir": sf_dir,
        "wall_sec": round(dt, 1),
        "rows": n,
        "loadavg": [load0, round(os.getloadavg()[0], 2)],
        "peak_scratch_gb": round(peak["bytes"] / (1 << 30), 2),
    }
    if rows_payload is not None:
        out["result_rows"] = rows_payload
    if key == "llm_near_dedup_minhash":
        from flume_hive_batch_sink_spark.llm.dedup import LAST_MINHASH_GUARD

        out["guard"] = dict(LAST_MINHASH_GUARD)
    print(json.dumps(out), flush=True)
    shutil.rmtree(shm, ignore_errors=True)


if __name__ == "__main__":
    main()
