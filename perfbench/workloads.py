"""The three workloads, and the traced pass of the stateful streaming
keys. Each workload sets up, then runs one client in a closed loop until
``seconds`` have passed and at least ``MIN_UNITS`` whole units are done.
Every op is checked; a raise or a wrong result counts as a failed op.

Each returns a ``Result``: set-up round times (the cheap program-side
step, staging through the source seam, runs ``SETUP_ROUNDS`` times so
its median can be reported), the time set-up spent on the benchmark's
own side (DuckDB oracles, expected counts, checks of set-up landings),
when the first timed op started, the per-op records and the per-layer
figures.
"""

from __future__ import annotations

import hashlib
import os
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from flume_hive_batch_sink_spark import registry

import check
import gen
import ingest
from tracing import p50, tail

SIZES = {
    "full": dict(events=12_000, hours=48, users=1_500, chunks=8, query_chunks=2, orders=15_000,
                 docs=2_000, vectors=1_000, dedup_docs=4_000),
    "tiny": dict(events=1_200, hours=12, users=100, chunks=4, query_chunks=2, orders=500,
                 docs=300, vectors=200, dedup_docs=300),
}
SETUP_ROUNDS = 3
# Every run times at least this many whole rounds / mix cycles / passes,
# so the sample a run's medians come from does not flip with host speed.
# A dedup pass is long, so its median needs a third pass to drop one
# slow pass; two rounds or cycles hold 16 epochs or 18 queries.
MIN_UNITS = {"ingest": 2, "query": 2, "dedup": 3}


@dataclass
class Result:
    setup_rounds: list = field(default_factory=list)
    bench_setup_s: float = 0.0  # set-up time spent on oracles and checks
    first_op_at: float = 0.0
    attempted: int = 0
    failed: int = 0
    items: int = 0  # events, queries or documents completed
    busy_s: float = 0.0  # wall time of the timed ops
    latencies_ms: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


@contextmanager
def _bench_side(res: Result):
    """Time a set-up block that is the benchmark's work, not the
    program's, so ``setup_s`` can leave it out."""
    t = time.perf_counter()
    try:
        yield
    finally:
        res.bench_setup_s += time.perf_counter() - t


def _fail(res: Result, what: str, errs: list[str]) -> None:
    res.failed += 1
    print(f"FAILED {what}: {'; '.join(errs)}", flush=True)


def _guarded(res: Result, what: str, fn):
    """Run one op; an exception is a failed op, not a dead run."""
    try:
        return fn()
    except Exception:
        _fail(res, what, [traceback.format_exc(limit=3)])
        return None


def _landing_layers(ctx, rounds: list[dict], staged: dict) -> dict:
    epochs = [p for r in rounds for p in r["epochs"]]
    n_ep = max(1, len(epochs))
    d = [p["durationMs"] for p in epochs]
    add = [x.get("addBatch", 0) for x in d]
    last = rounds[-1]
    out = {
        "source.stage_s": staged["stage_s"], "source.files": staged["files"], "source.bytes": staged["bytes"],
        "stream.latest_offset_ms": sum(x.get("latestOffset", 0) for x in d) / n_ep,
        "stream.query_planning_ms": sum(x.get("queryPlanning", 0) for x in d) / n_ep,
        "stream.wal_commit_ms": sum(x.get("walCommit", 0) for x in d) / n_ep,
        "stream.commit_offsets_ms": sum(x.get("commitOffsets", 0) for x in d) / n_ep,
        "stream.loop_overhead_ms": sum(x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d) / n_ep,
        "sink.add_batch_ms_p50": p50(add),
        "sink.add_batch_ms_tail": tail(add),
        "sink.epochs": len(epochs),
        "sink.rows": sum(p["numInputRows"] for p in epochs),
        "sink.epochs_retried": sum(len(r["epochs"]) - len({p["batchId"] for p in r["epochs"]}) for r in rounds),
        "sink.files_written": sum(r["files"] for r in rounds),
        "sink.bytes_written": sum(r["bytes"] for r in rounds),
        "sink.files_per_epoch": sum(r["files"] for r in rounds) / n_ep,
        "ingest.done_markers_s": p50([r["markers_s"] for r in rounds]),
        "ingest.markers": len(last["markers"]),
        "metastore.create_table_s": p50([r["create_s"] for r in rounds]),
        "metastore.register_s": p50([r["register_s"] for r in rounds]),
        "metastore.partitions_registered": len(last["markers"]),
        "metastore.statements": last["statements"],
        "landed.files": last["files"],
        "landed.mean_file_kb": last["bytes"] / max(1, last["files"]) / 1024,
        "landed.leaf_partitions": last["leaves"],
    }
    if ctx.tracer.enabled:
        c = ctx.tracer.counters([r["drain_span"] for r in rounds])
        out.update({"sink.tasks": c["tasks"] / n_ep, "sink.executor_run_ms": c["run_ms"] / n_ep,
                    "sink.executor_cpu_ms": c["cpu_ms"] / n_ep, "sink.shuffle_write_bytes": c["shuffle_write_bytes"] / n_ep})
    return out


# --------------------------------------------------------------------- ingest


def run_ingest(ctx, seconds: float) -> Result:
    res = Result()
    size = ctx.size
    sf = os.path.join(ctx.rundir, "input")
    t = time.perf_counter()
    written, ev = gen.write_events(sf, ctx.seed, size["events"], size["hours"], size["users"])
    res.info["input"] = {"rows": written.total_rows, "bytes": written.total_bytes, "gen_s": time.perf_counter() - t}
    with _bench_side(res):
        truth = gen.hourly_counts(ev)
    for _ in range(SETUP_ROUNDS):
        stream, staged = ingest.stage(ctx.spark, ctx.tracer, sf, size["chunks"])
        res.setup_rounds.append(staged["stage_s"])
    warm = ingest.land(ctx.spark, ctx.tracer, ctx.listener, stream, os.path.join(ctx.rundir, "warm"), "events_warm")
    with _bench_side(res):
        ctx.setup_errors += ingest.check_round(ctx.spark, warm, staged["files"], truth)

    rounds = []
    res.first_op_at = time.perf_counter()
    deadline = res.first_op_at + seconds
    i = 0
    while i < MIN_UNITS["ingest"] or time.perf_counter() < deadline:
        res.attempted += 1
        r = _guarded(res, f"ingest round {i}", lambda: ingest.land(
            ctx.spark, ctx.tracer, ctx.listener, stream, os.path.join(ctx.rundir, f"landed{i}"), f"events_r{i}", op=i))
        if r is not None:
            rounds.append(r)
            if ctx.corrupt and i == 0:
                ingest.corrupt(r, ctx.corrupt)
            errs = _guarded(res, f"ingest round {i} check", lambda: ingest.check_round(ctx.spark, r, staged["files"], truth))
            if errs:
                _fail(res, f"ingest round {i}", errs)
            res.items += sum(p["numInputRows"] for p in r["epochs"])
            res.busy_s += r["round_s"]
            res.latencies_ms += [p["durationMs"]["triggerExecution"] for p in r["epochs"] if p["numInputRows"] > 0]
        i += 1
    if rounds:
        res.layer.update(_landing_layers(ctx, rounds, staged))
        if ctx.tracer.enabled:
            res.layer["trace.ingest_accounted_pct"] = _accounted_pct(ctx.tracer)
    return res


def _accounted_pct(tracer) -> float:
    """Share of the timed rounds covered by epoch spans and publishing
    spans (self times), i.e. what the trace explains of the drain."""
    selfs = tracer.self_times()
    covered = total = 0.0
    for i, s in enumerate(tracer.spans):
        if s.op is None:
            continue
        if s.name == "ingest.round":
            total += s.end - s.start
        elif s.name in ("stream.epoch", "ingest.finalize", "metastore.create_table", "metastore.register"):
            covered += selfs[i]
    return 100 * covered / total if total else 0.0


# ---------------------------------------------------------------------- query


def _landed_mix(point: tuple[str, int]):
    dt, hr = point
    return {
        "landed_hourly_rollup": (
            lambda spark, t: spark.table(t).groupBy("dt", "hr").agg(
                F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")),
            "SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n, "
            "ROUND(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2"),
        "landed_point_lookup": (
            lambda spark, t: spark.table(t).where((F.col("dt") == dt) & (F.col("hr") == hr))
            .select("event_id", "user_id", "event_type", "value"),
            f"SELECT event_id, user_id, event_type, value FROM events "
            f"WHERE strftime(ts, '%Y%m%d') = '{dt}' AND hour(ts) = {hr}"),
        "landed_daily_users": (
            lambda spark, t: spark.table(t).groupBy("dt").agg(F.countDistinct("user_id").alias("users")),
            "SELECT strftime(ts, '%Y%m%d') AS dt, count(DISTINCT user_id) AS users FROM events GROUP BY 1"),
    }


REGISTRY_MIX = ("agg_group_basic", "join_multiway", "topk_per_group", "batch_counters",
                "llm_sim_topk_pairs", "llm_exact_dedup")


def run_query(ctx, seconds: float) -> Result:
    res = Result()
    size = ctx.size
    sf = os.path.join(ctx.rundir, "input")
    t = time.perf_counter()
    written, ev = gen.write_query_inputs(sf, ctx.seed, size)
    res.info["input"] = {"rows": written.total_rows, "bytes": written.total_bytes, "gen_s": time.perf_counter() - t}
    with _bench_side(res):
        truth = gen.hourly_counts(ev)
    # the hour the late chunk shares with the chunk after it
    last_of_first = ev.column("ts")[size["events"] // size["query_chunks"] - 1].as_py()
    point = (last_of_first.strftime("%Y%m%d"), last_of_first.hour)

    for _ in range(SETUP_ROUNDS):
        stream, staged = ingest.stage(ctx.spark, ctx.tracer, sf, size["query_chunks"])
        res.setup_rounds.append(staged["stage_s"])
    rounds = [ingest.land(ctx.spark, ctx.tracer, ctx.listener, stream, os.path.join(ctx.rundir, "landed"), "events_landed")]
    with _bench_side(res):
        ctx.setup_errors += ingest.check_round(ctx.spark, rounds[-1], staged["files"], truth)
    table = rounds[-1]["name"]
    res.layer.update(_landing_layers(ctx, rounds, staged))

    with _bench_side(res):
        con = check.duckdb_for(sf)
        mix = {name: (fn, check.expected(con, sql)) for name, (fn, sql) in _landed_mix(point).items()}
        for key in REGISTRY_MIX:
            fn = registry.QUERIES[key]
            mix[key] = ((lambda spark, _t, fn=fn: fn(spark, sf)), check.expected(con, registry.ORACLES[key]))
        con.close()
    # warm-up: two cycles, since the first run of a class compiles its
    # plans and a second one is still 10-30% slower than later runs
    for _ in range(2):
        for fn, _want in mix.values():
            fn(ctx.spark, table).toPandas()

    build, exec_fetch, per_class = [], [], {name: [] for name in mix}
    res.first_op_at = time.perf_counter()
    deadline = res.first_op_at + seconds
    i = 0
    while i < MIN_UNITS["query"] * len(mix) or time.perf_counter() < deadline:  # whole cycles: every run has the same mix
        for name, (fn, want) in mix.items():
            res.attempted += 1

            def op():
                with ctx.tracer.span("query.op", op=i, jobs=True, cls=name):
                    t0 = time.perf_counter()
                    with ctx.tracer.span("registry.build"):
                        df = fn(ctx.spark, table)
                    t1 = time.perf_counter()
                    with ctx.tracer.span("query.exec_fetch"):
                        pdf = df.toPandas()
                    t2 = time.perf_counter()
                return t1 - t0, t2 - t1, pdf

            got = _guarded(res, f"query {name}", op)
            if got is not None:
                b, x, pdf = got
                build.append(b * 1e3)
                exec_fetch.append(x * 1e3)
                per_class[name].append((b + x) * 1e3)
                res.latencies_ms.append((b + x) * 1e3)
                res.busy_s += b + x
                res.items += 1
                have = check.digest(pdf)
                if have != want:
                    _fail(res, f"query {name}", [f"got {have[0]} rows/{have[1][:12]}, DuckDB {want[0]} rows/{want[1][:12]}"])
            i += 1
    res.layer["registry.build_ms_p50"] = p50(build)
    res.layer["query.exec_fetch_ms_p50"] = p50(exec_fetch)
    for name, xs in per_class.items():
        res.layer[f"query.{name}_p50_ms"] = p50(xs)
    if ctx.tracer.enabled:
        c = ctx.tracer.counters(ctx.tracer.named("query.op"))
        n = max(1, res.items)
        res.layer.update({"query.tasks": c["tasks"] / n, "query.executor_run_ms": c["run_ms"] / n,
                          "query.executor_cpu_ms": c["cpu_ms"] / n,
                          "query.shuffle_write_bytes": c["shuffle_write_bytes"] / n,
                          "query.spill_bytes": c["spill_bytes"] / n})
    res.info["point_lookup"] = point
    return res


# ---------------------------------------------------------------------- dedup

DEDUP_KEYS = ("llm_exact_dedup", "llm_near_dedup_minhash", "llm_simhash_dedup")


def _planted_truth(docs_path: str, written: gen.Written) -> dict:
    import pyarrow.parquet as pq

    texts = pq.read_table(docs_path, columns=["text"]).column("text").to_pylist()
    near = []
    for a, b in written.near_pairs:
        sa, sb = set(texts[a].split()), set(texts[b].split())
        if len(sa & sb) / len(sa | sb) >= 0.8:  # the key's Jaccard threshold
            near.append((min(a, b), max(a, b)))
    return {
        "exact": [(min(a, b), max(a, b)) for a, b in written.exact_pairs],
        "near": near,
        "md5": {i: hashlib.md5(texts[i].strip().lower().encode()).hexdigest()
                for pair in written.exact_pairs for i in pair},
    }


def _planted_errors(key: str, pdf, truth: dict) -> list[str]:
    if key == "llm_exact_dedup":
        copies = dict(zip(pdf["content_key"], pdf["n_copies"]))
        miss = [p for p in truth["exact"] if copies.get(truth["md5"][p[0]], 0) < 2]
    elif key == "llm_near_dedup_minhash":
        pairs = set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
        miss = [p for p in truth["exact"] if p not in pairs]
    else:
        sim = dict(zip(pdf["doc_id"].tolist(), pdf["simhash"].tolist()))
        miss = [p for p in truth["exact"] if sim.get(p[0]) != sim.get(p[1])]
    return [f"{len(miss)} planted exact duplicates not found, e.g. {miss[:3]}"] if miss else []


def run_dedup(ctx, seconds: float) -> Result:
    res = Result()
    size = ctx.size
    sf = os.path.join(ctx.rundir, "input")
    t = time.perf_counter()
    written = gen.write_documents(sf, ctx.seed, size["dedup_docs"])
    res.info["input"] = {"rows": written.total_rows, "bytes": written.total_bytes, "gen_s": time.perf_counter() - t,
                         "docs": size["dedup_docs"], "planted_exact": len(written.exact_pairs),
                         "planted_near": len(written.near_pairs)}
    with _bench_side(res):
        truth = _planted_truth(os.path.join(sf, "documents.parquet"), written)
        con = check.duckdb_for(sf, ("documents",))
        want = {k: check.expected(con, registry.ORACLES[k]) for k in DEDUP_KEYS}
        con.close()
    # the program-side set-up here is only warm-up: one pass over a
    # small corpus from the same generator, which compiles the same plans
    # (code generation and JIT are most of a cold pass) at about three
    # quarters of the cost of a full one; it costs seconds, so it is not
    # repeated
    warm = os.path.join(ctx.rundir, "warm")
    gen.write_documents(warm, ctx.seed, SIZES["tiny"]["dedup_docs"])
    t = time.perf_counter()
    for key in DEDUP_KEYS:
        registry.QUERIES[key](ctx.spark, warm).toPandas()
    res.setup_rounds.append(time.perf_counter() - t)

    times = {k: {"build": [], "exec": []} for k in DEDUP_KEYS}
    pairs_found, recall = 0, 0.0
    res.first_op_at = time.perf_counter()
    deadline = res.first_op_at + seconds
    p = 0
    while p < MIN_UNITS["dedup"] or time.perf_counter() < deadline:
        pass_ok, pass_s = True, 0.0
        with ctx.tracer.span("dedup.pass", op=p, jobs=True):
            for key in DEDUP_KEYS:
                res.attempted += 1

                def op():
                    t0 = time.perf_counter()
                    with ctx.tracer.span(f"dedup.{key}.build"):
                        df = registry.QUERIES[key](ctx.spark, sf)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(f"dedup.{key}.exec"):
                        pdf = df.toPandas()
                    return t1 - t0, time.perf_counter() - t1, pdf

                got = _guarded(res, f"dedup {key}", op)
                if got is None:
                    pass_ok = False
                    continue
                b, x, pdf = got
                times[key]["build"].append(b)
                times[key]["exec"].append(x)
                pass_s += b + x
                errs = _planted_errors(key, pdf, truth)
                have = check.digest(pdf)
                if have != want[key]:
                    errs.append(f"got {have[0]} rows/{have[1][:12]}, DuckDB {want[key][0]} rows/{want[key][1][:12]}")
                if errs:
                    _fail(res, f"dedup {key}", errs)
                if key == "llm_near_dedup_minhash":
                    pairs_found = len(pdf)
                    found = set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
                    recall = sum(1 for q in truth["near"] if q in found) / max(1, len(truth["near"]))
        if pass_ok:
            res.items += size["dedup_docs"]
            res.busy_s += pass_s
            res.latencies_ms.append(pass_s * 1e3)
        p += 1

    def total(k):
        return [b + x for b, x in zip(times[k]["build"], times[k]["exec"])]

    res.layer.update({
        "dedup.pass_s": p50(res.latencies_ms) / 1e3,
        "dedup.exact_s": p50(total("llm_exact_dedup")),
        "dedup.minhash_build_s": p50(times["llm_near_dedup_minhash"]["build"]),
        "dedup.minhash_exec_s": p50(times["llm_near_dedup_minhash"]["exec"]),
        "dedup.simhash_s": p50(total("llm_simhash_dedup")),
        "dedup.pairs_found": pairs_found,
        "dedup.planted_recall": recall,
    })
    if ctx.tracer.enabled:
        c = ctx.tracer.counters(ctx.tracer.named("dedup.pass"))
        n = max(1, p)
        res.layer.update({"dedup.executor_run_ms": c["run_ms"] / n, "dedup.executor_cpu_ms": c["cpu_ms"] / n,
                          "dedup.shuffle_write_bytes": c["shuffle_write_bytes"] / n,
                          "dedup.spill_bytes": c["spill_bytes"] / n})
    return res


# ---------------------------------------------------------- stateful streams

STATE_KEYS = ("stream_custom_state_ttl", "stream_dedup_wm", "stream_watermark")


def run_state_pass(ctx, res: Result) -> None:
    """One pass of the stateful streaming keys (chunked replay of the
    run's events through the state store and ``applyInPandasWithState``
    TTL), each checked against its registry oracle. A pass costs about
    30 s, so it runs once, in the traced ``ingest`` run, after the timed
    window; its state-operator figures come from listener progress."""
    sf = os.path.join(ctx.rundir, "input")
    con = check.duckdb_for(sf, ("events",))
    want = {k: check.expected(con, registry.ORACLES[k]) for k in STATE_KEYS}
    con.close()
    epochs = []
    for key in STATE_KEYS:
        res.attempted += 1
        before = ctx.listener.run_ids()

        def op():
            t0 = time.perf_counter()
            with ctx.tracer.span(f"state.{key}", jobs=True):
                pdf = registry.QUERIES[key](ctx.spark, sf).toPandas()
            elapsed = time.perf_counter() - t0
            return elapsed, pdf, [e for rid in ctx.listener.new_runs(before, 1) for e in ctx.listener.epochs(rid)]

        got = _guarded(res, f"state {key}", op)
        if got is None:
            continue
        res.layer[f"state.{key}_s"], pdf, key_epochs = got
        epochs += key_epochs
        have = check.digest(pdf)
        if have != want[key]:
            _fail(res, f"state {key}", [f"got {have[0]} rows/{have[1][:12]}, DuckDB {want[key][0]} rows/{want[key][1][:12]}"])
    per_epoch = [p.get("stateOperators", []) for p in epochs]
    res.layer.update({
        "state.epochs": len(epochs),
        "state.rows_total": max((sum(o["numRowsTotal"] for o in ops) for ops in per_epoch), default=0),
        "state.rows_removed": sum(o.get("numRowsRemoved", 0) for ops in per_epoch for o in ops),
        "state.memory_bytes": max((sum(o["memoryUsedBytes"] for o in ops) for ops in per_epoch), default=0),
        "state.commit_ms": sum(o.get("commitTimeMs", 0) for ops in per_epoch for o in ops) / max(1, len(epochs)),
    })


WORKLOADS = {"ingest": run_ingest, "query": run_query, "dedup": run_dedup}
