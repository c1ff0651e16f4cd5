#!/usr/bin/env python
"""Streaming STATE-scale rehearsal: the stateful streaming keys'
dataflows over chunked replay with the RocksDB state store provider.

Seven shapes, each built by the registered key's own builder, run over
N ts-ordered micro-batches so the watermark actually ADVANCES between
batches and state eviction is observable:

  windowed_agg   stream_watermark (queries.hourly_window_counts):
                 watermark + 1h tumbling count, append mode. State =
                 open windows; eviction = windows the watermark passed.
  dedup_wm       stream_dedup_wm (queries.dedup_within_watermark),
                 without the key's self-union. State = ids within the
                 watermark horizon; O(corpus) without eviction.
  ss_join        stream_stream_join (queries.purchase_signup_join):
                 purchases⋈signups within 2h, watermarks both sides.
  custom_state   stream_custom_state (queries.per_user_counts):
                 applyInPandasWithState per-user counters, NoTimeout —
                 state bounded by |users|, no eviction expected.
  custom_state_ttl  stream_custom_state_ttl
                 (state_ttl.ttl_counters_stream): the same counters
                 under a 45-min event-time TTL, sentinel-closed replay —
                 eviction > 0 and final state ≪ |users|.
  session_window stream_session_window (session_window.session_windows):
                 6h-gap sessions with the key's count and DECIMAL sum;
                 windows MERGE across batches and closed sessions must
                 evict behind the watermark.
  agg_complete   stream_agg_update (queries.event_type_totals):
                 complete-mode groupBy event_type.

Per shape we record, from StreamingQueryProgress: per-batch input rows,
batch duration, watermark, and the state operator's numRowsTotal /
numRowsUpdated / numRowsRemoved + stateMemory / RocksDB customMetrics —
the evidence that (a) eviction actually shrinks state and (b) final
state is bounded ≪ input rows. Output goes to the noop sink: the
pipeline runs end-to-end but nothing data-sized is collected.

Usage: python scripts/stream_scale.py [sf_dir] [n_chunks]
Prints one JSON document; tee into artifacts/round12_stream_<sf>.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from flume_hive_batch_sink_spark.session import get_spark  # noqa: E402
from flume_hive_batch_sink_spark.streaming import (  # noqa: E402
    harness,
    queries,
    session_window,
    state_ttl,
)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _state_summary(progress: list[dict]) -> dict:
    """Fold the per-batch progress into the numbers SCALE.md needs."""
    batches = []
    total_removed = 0
    final_total = 0
    mem_bytes = 0
    for p in progress:
        ops = p.get("stateOperators") or []
        row = {
            "batchId": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "batch_ms": (p.get("durationMs") or {}).get("triggerExecution"),
            "watermark": (p.get("eventTime") or {}).get("watermark"),
        }
        if ops:
            op = ops[0]
            row.update(
                state_rows=op.get("numRowsTotal"),
                updated=op.get("numRowsUpdated"),
                removed=op.get("numRowsRemoved"),
            )
            total_removed += op.get("numRowsRemoved") or 0
            # explicit None checks: a final batch that fully DRAINED its
            # state reports numRowsTotal=0, which is a legitimate value —
            # `or` would silently keep the previous batch's nonzero count
            v = op.get("numRowsTotal")
            final_total = v if v is not None else final_total
            m = op.get("stateMemory")
            if m is None:
                m = op.get("memoryUsedBytes")
            mem_bytes = m if m is not None else mem_bytes
            cm = op.get("customMetrics") or {}
            sst = cm.get("rocksdbTotalSSTFilesBytes")
            if sst is not None:
                row["rocksdb_sst_bytes"] = sst
        batches.append(row)
    return {
        "n_batches": len(batches),
        "input_rows": sum(b.get("input_rows") or 0 for b in batches),
        "final_state_rows": final_total,
        "total_removed": total_removed,
        "state_mem_bytes": mem_bytes,
        "batches": batches,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark("stream_scale")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")

    results: dict[str, dict] = {}

    def run(name: str, df, mode: str) -> None:
        t0 = time.perf_counter()
        _, progress = harness.run_with_progress(
            df, f"scale_{name}", mode, spark, fmt="noop"
        )
        wall = round(time.perf_counter() - t0, 2)
        results[name] = {"wall_s": wall, **_state_summary(progress)}
        s = results[name]
        print(
            f"{name:14s} {wall:8.1f}s  batches={s['n_batches']}  "
            f"in={s['input_rows']}  state={s['final_state_rows']}  "
            f"removed={s['total_removed']}",
            file=sys.stderr,
            flush=True,
        )

    def chunks(**kw):
        return harness.replay_chunks(spark, sf_dir, n_chunks=n_chunks, **kw)

    run("windowed_agg", queries.hourly_window_counts(chunks()), "append")
    run("dedup_wm", queries.dedup_within_watermark(chunks()), "append")
    ss_src = chunks()  # one staged replay read by both join sides
    run("ss_join", queries.purchase_signup_join(ss_src, ss_src), "append")
    run("custom_state", queries.per_user_counts(chunks()), "update")
    ttl_src = chunks(sentinel_offsets_min=state_ttl.SENTINELS_MIN)
    run("custom_state_ttl", state_ttl.ttl_counters_stream(spark, ttl_src), "update")
    run("session_window", session_window.session_windows(chunks()), "append")
    run("agg_complete", queries.event_type_totals(chunks()), "complete")

    print(
        json.dumps(
            {
                "metric": "stream_state_scale",
                "sf_dir": sf_dir,
                "n_chunks": n_chunks,
                "state_store_provider": provider,
                "loadavg_1m": round(os.getloadavg()[0], 2),
                "shapes": results,
            }
        )
    )


if __name__ == "__main__":
    main()
