#!/usr/bin/env python3
"""Product-path benchmark of the Flume→Hive batch sink engine.

    python3 perfbench/run.py --workload {ingest,query,dedup} --seed N \
        --seconds S --trace {0,1} [--size {full,tiny}] [--corrupt {done,file}]

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/`` (nothing is read or written outside the checkout),
one client drives the engine in a closed loop for ``--seconds``, and
every op is checked. The last stdout line is one JSON object: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see perfbench/README.md). Exits non-zero if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

# The engine under test; outside a checkout of the repo this import
# fails and the benchmark exits non-zero before printing a result.
import flume_hive_batch_sink_spark  # noqa: E402,F401

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_ms": "ms",
}

_QUERY_CLASSES = ("landed_hourly_rollup", "landed_point_lookup", "landed_daily_users", "agg_group_basic",
                  "join_multiway", "topk_per_group", "batch_counters", "llm_sim_topk_pairs", "llm_exact_dedup")
PER_LAYER = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "input.rows": "count",
    "input.bytes": "bytes",
    "source.stage_s": "s",
    "source.files": "count",
    "source.bytes": "bytes",
    "stream.latest_offset_ms": "ms/epoch",
    "stream.query_planning_ms": "ms/epoch",
    "stream.wal_commit_ms": "ms/epoch",
    "stream.commit_offsets_ms": "ms/epoch",
    "stream.loop_overhead_ms": "ms/epoch",
    "sink.add_batch_ms_p50": "ms",
    "sink.add_batch_ms_tail": "ms",
    "sink.epochs": "count",
    "sink.rows": "count",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "sink.files_per_epoch": "count/epoch",
    "sink.epochs_retried": "count",
    "sink.tasks": "count/epoch",
    "sink.executor_run_ms": "ms/epoch",
    "sink.executor_cpu_ms": "ms/epoch",
    "sink.shuffle_write_bytes": "bytes/epoch",
    "ingest.done_markers_s": "s",
    "ingest.markers": "count",
    "metastore.create_table_s": "s",
    "metastore.register_s": "s",
    "metastore.partitions_registered": "count",
    "metastore.statements": "count",
    "landed.files": "count",
    "landed.mean_file_kb": "kB",
    "landed.leaf_partitions": "count",
    "registry.build_ms_p50": "ms",
    "query.exec_fetch_ms_p50": "ms",
    **{f"query.{c}_p50_ms": "ms" for c in _QUERY_CLASSES},
    "query.tasks": "count/op",
    "query.executor_run_ms": "ms/op",
    "query.executor_cpu_ms": "ms/op",
    "query.shuffle_write_bytes": "bytes/op",
    "query.spill_bytes": "bytes/op",
    "dedup.pass_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_build_s": "s",
    "dedup.minhash_exec_s": "s",
    "dedup.simhash_s": "s",
    "dedup.pairs_found": "count",
    "dedup.planted_recall": "ratio",
    "dedup.executor_run_ms": "ms/pass",
    "dedup.executor_cpu_ms": "ms/pass",
    "dedup.shuffle_write_bytes": "bytes/pass",
    "dedup.spill_bytes": "bytes/pass",
    **{f"state.{k}_s": "s" for k in ("stream_custom_state_ttl", "stream_dedup_wm", "stream_watermark")},
    "state.epochs": "count",
    "state.rows_total": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms/epoch",
    "trace.overhead_pct": "%",
    "trace.ingest_accounted_pct": "%",
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    listener: object
    seed: int
    size: dict
    rundir: str
    corrupt: str | None
    setup_errors: list


def _process_age_s() -> float:
    """Seconds since this process was created (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _driver_mem() -> str:
    """Spark driver heap: 4 GB, or a quarter of host RAM if that is less."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return f"{min(4096, total_mb // 4)}m"


def _configure_env(rundir: Path) -> dict:
    """Host sizing and confinement, set before the JVM starts: all of
    Spark's and Python's scratch space lives under ``rundir``."""
    tmp, local, wh = rundir / "tmp", rundir / "local", rundir / "warehouse"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": _driver_mem(),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        # spark-submit's launcher JVM would otherwise keep perf data in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf {shlex.quote('spark.sql.warehouse.dir=' + str(wh))}",
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    # the production read path: no input cache, no test-only repartition
    for k in ("SPARK_GRAFT_CACHE_INPUTS", "SPARK_GRAFT_REPARTITION_INPUTS"):
        os.environ.pop(k, None)
    tempfile.tempdir = None
    return {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")} | {"SPARK_GRAFT_CACHE_INPUTS": "unset"}


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", choices=("done", "file"), help="self-test: damage the first ingest round")
    args = ap.parse_args(argv)
    t_process = time.perf_counter() - _process_age_s()

    work = ROOT / ".perfbench"
    rundir = work / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    host = _configure_env(rundir)
    cpu0, load0 = _cpu_times(), os.getloadavg()

    from flume_hive_batch_sink_spark.registry import load_all_operators
    from flume_hive_batch_sink_spark.session import get_spark

    import workloads
    from tracing import EpochListener, Tracer, p50

    load_all_operators()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        listener = EpochListener()
        spark.streams.addListener(listener)
        tracer = Tracer(spark, bool(args.trace))
        ctx = Ctx(spark, tracer, listener, args.seed, workloads.SIZES[args.size], str(rundir), args.corrupt, [])
        res = workloads.WORKLOADS[args.workload](ctx, args.seconds)
        t_end = time.perf_counter()
        bookkeeping_s = tracer.bookkeeping_s
        rss = _peak_rss_mb(spark)
        if args.trace and args.workload == "ingest":
            workloads.run_state_pass(ctx, res)
        trace_file = None
        if args.trace:
            (work / "traces").mkdir(parents=True, exist_ok=True)
            trace_file = work / "traces" / f"{args.workload}-seed{args.seed}.json"
            tracer.dump(str(trace_file))
    finally:
        _stop(spark)
        shutil.rmtree(rundir, ignore_errors=True)

    setup_s = (res.first_op_at - t_process) - sum(res.setup_rounds) + p50(res.setup_rounds) - res.bench_setup_s
    window_s = t_end - res.first_op_at
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(res.layer)
        layer["session.start_s"] = session_s
        layer["mem.peak_rss_mb"] = rss
        layer["input.rows"] = res.info["input"]["rows"]
        layer["input.bytes"] = res.info["input"]["bytes"]
        layer["trace.overhead_pct"] = 100 * bookkeeping_s / window_s
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        e2e = {
            "setup_s": setup_s,
            "throughput_per_s": res.items / res.busy_s if res.busy_s else 0.0,
            "op_p50_ms": p50(res.latencies_ms),
        }
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    for e in ctx.setup_errors:
        print(f"FAILED setup check: {e}", flush=True)
    correct = res.failed == 0 and not ctx.setup_errors and res.attempted > 0
    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "size": args.size, "host": host,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "cpu_steal_pct": 100 * d[7] / max(1, sum(d)) if len(d) > 7 else None,
        "session_start_s": session_s, "setup_rounds_s": res.setup_rounds,
        "bench_setup_s": res.bench_setup_s, "window_s": window_s,
        "ops": len(res.latencies_ms), "trace_file": str(trace_file) if trace_file else None,
        **res.info,
    }}, default=str))
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
