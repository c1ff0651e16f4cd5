"""Transport seam (streaming/source.py): the stream_* keys consume one
canonical unbounded events contract; file replay and format("kafka")
are config choices behind it. No broker ships in-sandbox, so the Kafka
coverage is (a) the decode path run batch-side on exact Kafka wire
rows and (b) the connector probe; the file transports are exercised by
every streaming key, by the routing test and by the stager tests here
(one write, arrival order, sentinel rows, and the scratch-dir helper
the staged trees live in)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.streaming import harness, source

SF = "/root/testdata/sf0.001"
REPO = Path(__file__).resolve().parent.parent


def _as_kafka_wire(ev):
    """Encode fixture events exactly as they'd arrive from the Kafka
    relation: JSON payload in a binary value column, wire metadata
    alongside."""
    payload = F.to_json(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
        {"timestampFormat": source.KAFKA_TS_FORMAT},
    )
    return ev.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit("events").alias("topic"),
        F.pmod("event_id", F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def test_kafka_decode_roundtrips_exactly(spark):
    ev = load(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    decoded = source.decode_kafka_events(_as_kafka_wire(ev))
    assert decoded.schema == ev.schema
    orig = sorted(map(tuple, ev.collect()))
    back = sorted(map(tuple, decoded.collect()))
    assert back == orig


def test_kafka_decode_drops_poison_records(spark):
    ev = load(spark, SF, "events").limit(10)
    wire = _as_kafka_wire(ev)
    poison = spark.createDataFrame(
        [(None, bytearray(b"{not json"), "events", 0, 10**9, None, 0)],
        source.KAFKA_WIRE_SCHEMA,
    )
    decoded = source.decode_kafka_events(wire.unionByName(poison))
    # at-least-once transports must not kill the query on one bad
    # payload: the poison row decodes to NULL event_id and is dropped
    assert decoded.count() == 10


def test_kafka_transport_wiring_reaches_connector(spark):
    """The kafka transport builds real format("kafka") wiring. Without
    the connector jar (this sandbox) the plan fails with the
    data-source-missing error — proving the seam dispatches to the real
    source, not a stub; with the jar deployed the same config works
    unchanged."""
    cfg = source.SourceConfig(
        transport="kafka", bootstrap_servers="broker:9092", topic="events"
    )
    if source.kafka_available(spark):
        df = source.open_events_stream(spark, cfg)
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == [
            "event_id", "ts", "user_id", "event_type", "value", "props",
        ]
    else:
        with pytest.raises(Exception, match="(?i)kafka"):
            source.open_events_stream(spark, cfg)


def test_rate_transport_matches_canonical_schema(spark):
    df = source.open_events_stream(
        spark, source.SourceConfig(transport="rate", rows_per_second=10)
    )
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_unknown_transport_rejected(spark):
    with pytest.raises(ValueError, match="unknown transport"):
        source.open_events_stream(
            spark, source.SourceConfig(transport="carrier-pigeon")
        )


def test_stream_keys_route_through_seam(spark, monkeypatch):
    """harness.events_stream / replay_chunks — what every stream_* key
    calls — must dispatch through open_events_stream, so a transport
    swap reaches all keys with zero key changes."""
    calls = []
    real = source.open_events_stream

    def spy(sp, cfg):
        calls.append(cfg.transport)
        return real(sp, cfg)

    monkeypatch.setattr(source, "open_events_stream", spy)
    s = harness.events_stream(spark, SF)
    assert s.isStreaming
    c = harness.replay_chunks(spark, SF, n_chunks=2)
    assert c.isStreaming
    assert calls == ["file", "file-chunks"]


def test_avro_probe_gates_roundtrip(spark):
    """Avro support is connector-gated: where spark-avro is present the
    roundtrip must work; where absent (this sandbox — PySpark ships only
    Avro core jars) it must raise the deployment instruction instead of
    an opaque failure, and the registry must not carry the key."""
    from flume_hive_batch_sink_spark.registry import QUERIES
    from flume_hive_batch_sink_spark.sources import formats

    if formats.avro_available(spark):
        out = formats.scan_avro_roundtrip(spark, SF)
        assert out.count() == load(spark, SF, "events").count()
        assert "scan_avro_roundtrip" in QUERIES
    else:
        with pytest.raises(NotImplementedError, match="spark-avro"):
            formats.scan_avro_roundtrip(spark, SF)
        assert "scan_avro_roundtrip" not in QUERIES


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store, after the
    listener bus has drained. Differences count executions even once
    the store's retention cap evicts old ones (executionsCount alone
    saturates there)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList().last().executionId()


def _new_replay_src(before: set) -> str:
    (d,) = [
        d for d in set(os.listdir(tempfile.gettempdir())) - before
        if d.startswith("stream_replay_")
    ]
    return os.path.join(tempfile.gettempdir(), d, "src")


def _files_by_arrival(src: str) -> list[str]:
    files = sorted(os.path.join(src, f) for f in os.listdir(src))
    mtimes = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    return files


def test_replay_stager_one_write_in_late_order_with_sentinels(spark):
    """replay_chunks stages data chunks and sentinel rows in ONE SQL
    execution: one file per chunk, in late order (oldest data chunk
    after the newer ones), then one single-row file per sentinel with
    ts = max(ts) + offset, all with strictly increasing mtimes."""
    from pyspark.sql.window import Window

    ev = load(spark, SF, "events")
    ntile = {
        r["chunk"]: r["n"]
        for r in ev.withColumn(
            "chunk", F.ntile(3).over(Window.orderBy("ts", "event_id"))
        )
        .groupBy("chunk")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]

    before = set(os.listdir(tempfile.gettempdir()))
    e0 = _last_execution_id(spark)
    s = harness.replay_chunks(
        spark, SF, n_chunks=3, late_chunk=True, sentinel_offsets_min=(120, 240)
    )
    assert _last_execution_id(spark) - e0 == 1, "staging must be one write"
    assert s.isStreaming

    files = _files_by_arrival(_new_replay_src(before))
    assert len(files) == 5
    counts = [spark.read.parquet(f).count() for f in files]
    assert counts == [ntile[2], ntile[3], ntile[1], 1, 1]
    for f, off in zip(files[3:], (120, 240)):
        (row,) = (
            spark.read.parquet(f)
            .select("user_id", F.unix_micros("ts").alias("us"))
            .collect()
        )
        assert row["user_id"] == -1
        assert row["us"] == max_us + off * 60_000_000


def test_text_stager_stages_date_chunks_in_order(spark):
    """stage_text_chunks (stream_text_ingest_hive's staging) moves the
    wire files in chunk order with strictly increasing mtimes, and the
    wire pair reads back every event."""
    before = set(os.listdir(tempfile.gettempdir()))
    src, n_files = source.stage_text_chunks(spark, SF)
    assert src == _new_replay_src(before)
    files = _files_by_arrival(src)
    assert len(files) == n_files >= 4
    back = source.read_text_wire(spark.read, src).withColumn(
        "f", F.input_file_name()
    )
    per_file = {
        r["f"]: (r["lo"], r["hi"])
        for r in back.groupBy("f")
        .agg(
            F.min(F.pmod(F.unix_date(F.to_date("ts")), F.lit(4))).alias("lo"),
            F.max(F.pmod(F.unix_date(F.to_date("ts")), F.lit(4))).alias("hi"),
        )
        .collect()
    }
    chunks = [per_file["file://" + f] for f in files]
    assert all(lo == hi for lo, hi in chunks), "one chunk per file"
    assert [c for c, _ in chunks] == sorted(c for c, _ in chunks)
    assert back.count() == load(spark, SF, "events").count()


def test_scratch_dir_removed_at_exit():
    """io.scratch_dir's tree outlives the call but not the interpreter."""
    code = (
        "from flume_hive_batch_sink_spark.io import scratch_dir\n"
        "d = scratch_dir('exit_probe_')\n"
        "open(d + '/f.parquet', 'w').close()\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, check=True,
    )
    d = out.stdout.strip()
    assert d.startswith(tempfile.gettempdir())
    assert not os.path.exists(d)
