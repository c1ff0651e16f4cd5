"""The product path: staged backlog → ``sink.start_hive_sink`` (one
chunk file per epoch) → ``sink.finalize_partitions`` (``_DONE``
markers) → ``metastore`` table creation and partition registration.

``land`` is one closed-loop round of that path into fresh directories;
the ``ingest`` workload times it, the ``query`` workload uses it to land
the table its mix reads.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.sources import metastore as ms
from flume_hive_batch_sink_spark.streaming import sink, source

EVENTS_DDL = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
PARTITIONS = [("epoch", "BIGINT"), ("dt", "STRING"), ("hr", "BIGINT")]
CATALOG = ms.MetastoreConfig()


def stage(spark, tracer, sf_dir: str, n_chunks: int) -> tuple[object, dict]:
    """Stage the backlog through the source seam's chunk replay: one
    ts-ordered chunk file per epoch, the oldest chunk replayed last."""
    tmp = os.environ["TMPDIR"]
    before = set(os.listdir(tmp))
    t = time.perf_counter()
    with tracer.span("source.stage", jobs=True):
        stream = source.open_events_stream(spark, source.SourceConfig(
            transport="file-chunks", sf_dir=sf_dir, n_chunks=n_chunks, late_chunk=True))
    elapsed = time.perf_counter() - t
    files = []
    for d in set(os.listdir(tmp)) - before:
        src = os.path.join(tmp, d, "src")
        if d.startswith("stream_replay_") and os.path.isdir(src):
            files += [os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")]
    return stream, {"stage_s": elapsed, "files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def _leaf_partitions(out: str) -> list[str]:
    leaves = []
    for root, dirs, _files in os.walk(out):
        rel = os.path.relpath(root, out).split(os.sep)
        if len(rel) == 3 and all("=" in p for p in rel):
            leaves.append(root)
    return leaves


def _spec(marker: str, out: str) -> dict:
    kv = dict(p.split("=", 1) for p in os.path.relpath(os.path.dirname(marker), out).split(os.sep))
    return {"epoch": int(kv["epoch"]), "dt": kv["dt"], "hr": int(kv["hr"])}


def _sql_executions(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def land(spark, tracer, listener, stream, out: str, table: str, op: int | None = None) -> dict:
    """One round: drain the staged backlog, mark, register. Returns
    the round's timings and what it wrote."""
    chk = out + "_chk"
    t0 = time.perf_counter()
    with tracer.span("ingest.round", op=op):
        with tracer.span("sink.drain") as drain:
            q = sink.start_hive_sink(stream, out, chk)
            q.awaitTermination()
        t_drain = time.perf_counter()
        with tracer.span("ingest.finalize"):
            markers = sink.finalize_partitions(spark, out)
        t_mark = time.perf_counter()
        n_sql = _sql_executions(spark) if tracer.enabled else 0
        with tracer.span("metastore.create_table", jobs=True):
            name = ms.create_external_partitioned_table(spark, CATALOG, table, EVENTS_DDL, PARTITIONS, out)
        t_create = time.perf_counter()
        with tracer.span("metastore.register", jobs=True):
            ms.add_partitions(spark, CATALOG, table, [_spec(m, out) for m in markers])
        t_end = time.perf_counter()
    epochs = listener.epochs(str(q.runId))
    if drain is not None:
        drain.job_group = str(q.runId)
        tracer.add_epochs(drain, epochs)
    files = [os.path.join(r, f) for r, _d, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    return {
        "name": name, "out": out, "epochs": epochs, "markers": markers,
        "round_s": t_end - t0, "drain_s": t_drain - t0, "markers_s": t_mark - t_drain,
        "create_s": t_create - t_mark, "register_s": t_end - t_create,
        "statements": (_sql_executions(spark) - n_sql) if tracer.enabled else 0,
        "files": len(files), "bytes": sum(os.path.getsize(f) for f in files),
        "leaves": len(_leaf_partitions(out)), "drain_span": drain,
    }


def check_round(spark, r: dict, staged_files: int, truth: dict[tuple[str, int], int]) -> list[str]:
    """Every way a landed round can be wrong, as messages (empty = ok)."""
    errs = []
    data_epochs = [p for p in r["epochs"] if p["numInputRows"] > 0]
    if len(data_epochs) != staged_files:
        errs.append(f"{len(data_epochs)} epochs with data, {staged_files} files staged")
    rows = sum(p["numInputRows"] for p in r["epochs"])
    if rows != sum(truth.values()):
        errs.append(f"{rows} rows through the stream, {sum(truth.values())} generated")
    done = sum(1 for _r, _d, fs in os.walk(r["out"]) if "_DONE" in fs)
    registered = spark.sql(f"SHOW PARTITIONS {r['name']}").count()
    if not (done == r["leaves"] == registered):
        errs.append(f"{done} _DONE markers, {r['leaves']} leaf partitions, {registered} registered")
    got = {
        (row["dt"], int(row["hr"])): int(row["n"])
        for row in spark.table(r["name"]).groupBy("dt", "hr").agg(F.count("*").alias("n")).collect()
    }
    if got != truth:
        bad = sorted(set(got.items()) ^ set(truth.items()))[:3]
        errs.append(f"per-(dt,hr) counts differ from the generator's, e.g. {bad}")
    return errs


def corrupt(r: dict, what: str) -> None:
    """Self-test hook: break one landed round the way a lost file or a
    lost marker would."""
    suffix = "_DONE" if what == "done" else ".parquet"
    for root, _d, fs in sorted(os.walk(r["out"])):
        for f in sorted(fs):
            if f.endswith(suffix):
                os.remove(os.path.join(root, f))
                return
