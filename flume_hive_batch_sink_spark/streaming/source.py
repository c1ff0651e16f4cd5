"""Event-source seam: one canonical unbounded events DataFrame, three
transports.

The reference consumes a Flume channel; the modern deployment of the
same pattern is Kafka → Spark → Hive. In-sandbox there is no broker
(and no spark-sql-kafka connector jar), so the seam exists precisely
so that every ``stream_*`` key is written against ONE contract — an
unbounded DataFrame with the canonical events schema — and the
transport is a config choice:

- ``file``/``file-chunks``: the deterministic fixture-replay harness
  (what tests and the driver run). ``file-chunks`` pins one
  mtime-ordered file per micro-batch for watermark semantics.
  ``stage_in_order`` is the one ordered-replay stager: one
  executor-side write partitioned by chunk, then the chunk files move
  into the source dir with strictly increasing mtimes. Sentinel
  events (watermark drain barriers) are literal rows over the in-plan
  ``max(ts)``, unioned into that same write as the last chunks. The
  delimited-text wire (``encode_text_wire``/``read_text_wire``) stages
  through the same stager (``stage_text_chunks``).
- ``kafka``: the production wiring — ``format("kafka")`` with
  bootstrap servers/topic/offsets config, value decoded from JSON by
  ``decode_kafka_events``. The decode step is pure column
  transformation, so it is unit-tested against a batch DataFrame in
  the exact Kafka wire shape (key/value binary, topic, partition,
  offset, timestamp) without a broker; the connector probe
  (``kafka_available``) records at runtime whether the jar exists.
- ``rate``: Spark's built-in rate source mapped onto synthetic
  canonical events — the load-generator transport.

Every key keeps its checkpoint/foreachBatch sink unchanged: the sink's
epoch-idempotent commits (streaming/sink.py) compose with Kafka's
replayable offsets to give the same exactly-once table state the
file-replay path has.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load, scratch_dir

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

# The Kafka source's fixed wire schema (Spark's kafka relation output),
# reproduced here so the decode path can be tested batch-side.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, "
    "offset BIGINT, timestamp TIMESTAMP, timestampType INT"
)

# JSON payload timestamp contract — µs precision, matching the fixture.
KAFKA_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@dataclass
class SourceConfig:
    """Transport selection + parameters for ``open_events_stream``."""

    transport: str = "file"  # file | file-chunks | kafka | rate
    # file transports
    sf_dir: str = "/root/testdata/sf0.01"
    n_chunks: int = 4
    late_chunk: bool = False
    # minute offsets past the global max ts; each appends ONE synthetic
    # sentinel event (user_id = -1, event_type = 'sentinel') as its own
    # final chunk file. Sentinels exist purely to ADVANCE THE WATERMARK
    # past every real key's event-time TTL so timed-out state provably
    # drains before an availableNow replay ends — the event-time
    # analogue of Flume's channel drain barrier. Consumers filter
    # user_id < 0 out of their results.
    sentinel_offsets_min: tuple = ()
    # kafka transport
    bootstrap_servers: str = "localhost:9092"
    topic: str = "events"
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = None
    fail_on_data_loss: bool = True
    extra_options: dict = field(default_factory=dict)
    # rate transport
    rows_per_second: int = 1000


def open_events_stream(spark: SparkSession, cfg: SourceConfig) -> DataFrame:
    """The seam: an unbounded DataFrame in the canonical events schema,
    whatever the transport. ``stream_*`` keys consume only this."""
    if cfg.transport == "file":
        return _file_stream(spark, cfg)
    if cfg.transport == "file-chunks":
        return _file_chunk_stream(spark, cfg)
    if cfg.transport == "kafka":
        return _kafka_stream(spark, cfg)
    if cfg.transport == "rate":
        return _rate_stream(spark, cfg)
    raise ValueError(f"unknown transport: {cfg.transport!r}")


# --------------------------------------------------------------------------
# file transports (the deterministic replay harness)
# --------------------------------------------------------------------------


def _file_stream(spark: SparkSession, cfg: SourceConfig) -> DataFrame:
    """The whole events fixture as one availableNow micro-batch."""
    staged = os.path.join(scratch_dir("stream_src_"), "events")
    load(spark, cfg.sf_dir, "events").write.mode("overwrite").parquet(staged)
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(staged)


def stage_in_order(
    chunked: DataFrame,
    order,
    fmt: str = "parquet",
    one_file_per_chunk: bool = True,
    **options,
) -> tuple[str, int]:
    """The one ordered-replay stager: write ``chunked`` partitioned by
    its ``chunk`` column in ONE executor-side job, then move each
    chunk's part files, chunk by chunk in ``order``, into a fresh
    ``$TMPDIR/stream_replay_*/src`` as ``chunk_NNN.<fmt>`` (NNN = the
    arrival index) with strictly increasing mtimes. The file source
    lists oldest-first, so the mtimes pin the replay order. No
    data-sized result crosses the driver; it only renames files.

    With ``one_file_per_chunk`` every chunk must land as exactly one
    file (the caller repartitions on ``chunk``, so all of a chunk's rows
    sit in one task), which makes each chunk one micro-batch under
    ``maxFilesPerTrigger=1``. Returns ``(src, n_files)``."""
    base = scratch_dir("stream_replay_")
    src = os.path.join(base, "src")
    stage = os.path.join(base, "stage")
    os.makedirs(src)
    now = time.time()
    (
        chunked.write.partitionBy("chunk")
        .mode("overwrite")
        .options(**options)
        .format(fmt)
        .save(stage)
    )
    k = 0
    for c in order:
        cdir = os.path.join(stage, f"chunk={c}")
        names = sorted(os.listdir(cdir)) if os.path.isdir(cdir) else []
        parts = [f for f in names if f.startswith("part-")]
        if one_file_per_chunk:
            assert len(parts) == 1, f"chunk {c}: expected 1 file, got {parts}"
        for part in parts:
            path = os.path.join(src, f"chunk_{k:03d}.{fmt}")
            os.replace(os.path.join(cdir, part), path)
            os.utime(path, (now + k, now + k))
            k += 1
    shutil.rmtree(stage, ignore_errors=True)
    return src, k


def _sentinel_rows(ev: DataFrame, offsets: list, first_chunk: int) -> DataFrame:
    """One event per offset (minutes past the fixture's max ts), as
    JVM-side literal rows over the in-plan ``max(ts)``: sentinel j has
    event_id -(j+1), user_id -1, event_type 'sentinel' and chunk
    ``first_chunk + j``. No driver collect, no createDataFrame, so the
    sentinels ride in the chunks' one write."""
    lits = F.array(*[F.lit(int(o)) for o in offsets])
    return (
        ev.agg(F.max("ts").alias("m"))
        .select("m", F.posexplode(lits).alias("j", "off"))
        .select(
            (-(F.col("j") + 1)).cast("bigint").alias("event_id"),
            (F.col("m") + F.make_dt_interval(mins=F.col("off"))).alias("ts"),
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
            (F.col("j") + first_chunk).alias("chunk"),
        )
    )


def _file_chunk_stream(spark: SparkSession, cfg: SourceConfig) -> DataFrame:
    """Events split into ts-ordered chunk files replayed one per batch.

    With ``late_chunk`` the FIRST chunk (oldest events) is replayed
    LAST — after newer chunks advanced the watermark — so its rows
    arrive late. Sentinel rows (``sentinel_offsets_min``) follow as one
    single-row chunk each, after every data chunk. Chunks, sentinels
    included, are staged by ``stage_in_order`` in one job, repartitioned
    on the chunk id so each lands as one file, and replayed with
    ``maxFilesPerTrigger=1``. The ntile window itself is a deliberate
    global sort: the harness's determinism contract (ts-ordered chunks)
    requires a total order, and the production transport is the Kafka
    seam, not this replay path.
    """
    from pyspark.sql.window import Window

    ev = load(spark, cfg.sf_dir, "events")
    n = cfg.n_chunks
    chunked = ev.withColumn(
        "chunk", F.ntile(n).over(Window.orderBy("ts", "event_id"))
    )
    order = list(range(1, n + 1))
    if cfg.late_chunk:
        order = order[1:] + order[:1]  # oldest chunk arrives last
    offsets = sorted(cfg.sentinel_offsets_min)
    if offsets:
        chunked = chunked.unionByName(_sentinel_rows(ev, offsets, n + 1))
        order += range(n + 1, n + 1 + len(offsets))
    src, _ = stage_in_order(chunked.repartition(len(order), "chunk"), order)
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )


# --------------------------------------------------------------------------
# delimited-text wire (the reference's serialize_text_line format)
# --------------------------------------------------------------------------

TEXT_WIRE_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE"
)
TEXT_WIRE_OPTIONS = {"sep": "\t", "timestampFormat": KAFKA_TS_FORMAT}


def encode_text_wire(ev: DataFrame, chunk) -> DataFrame:
    """Canonical events → delimited-text wire rows: five string fields
    (µs timestamps, values rounded to 4 places) plus the ``chunk``
    column ``stage_in_order`` splits on. ``read_text_wire`` is the
    inverse."""
    return ev.select(
        chunk.alias("chunk"),
        F.col("event_id").cast("string").alias("c0"),
        F.date_format("ts", KAFKA_TS_FORMAT).alias("c1"),
        F.col("user_id").cast("string").alias("c2"),
        F.col("event_type").alias("c3"),
        F.round("value", 4).cast("string").alias("c4"),
    )


def read_text_wire(reader, path: str) -> DataFrame:
    """Parse wire files with the declared schema; ``reader`` is
    ``spark.read`` or ``spark.readStream`` (with any options set)."""
    return reader.schema(TEXT_WIRE_SCHEMA).options(**TEXT_WIRE_OPTIONS).csv(path)


def stage_text_chunks(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the events fixture as wire files, four chunks by event DATE
    (``pmod(unix_date, 4)``: a roughly time-ordered drain, as Flume's
    channel delivers) in chunk order. Each chunk is sub-split into a few
    files (``pmod(xxhash64(event_id), 8)``), widening the µs-timestamp
    formatting write from 4 tasks to up to 32. Returns
    ``(src, n_files)``."""
    wire = encode_text_wire(
        load(spark, sf_dir, "events"),
        F.pmod(F.unix_date(F.to_date("ts")), F.lit(4)),
    )
    return stage_in_order(
        wire.repartition(F.col("chunk"), F.pmod(F.xxhash64("c0"), F.lit(8))),
        range(4),
        "csv",
        one_file_per_chunk=False,
        **TEXT_WIRE_OPTIONS,
    )


# --------------------------------------------------------------------------
# kafka transport (production wiring; connector-gated in-sandbox)
# --------------------------------------------------------------------------


def decode_kafka_events(raw: DataFrame) -> DataFrame:
    """Kafka wire rows → canonical events rows.

    ``raw`` carries Spark's fixed Kafka relation schema; the payload
    contract is one JSON event per record (the serializer shape the
    reference's delimited/JSON serializers produced). Malformed
    payloads yield NULL event_id and are dropped — at-least-once
    transports must never kill the query on one poison record; route
    them to a DLQ with ingest_dlq_routing if they must be kept. Pure
    column transformation (from_json, casts): identical on a batch
    DataFrame, which is how tests cover it without a broker. The
    payload contract pins a µs timestamp format (KAFKA_TS_FORMAT) so
    encode/decode roundtrips are lossless at the fixture's precision.
    """
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"),
            EVENTS_SCHEMA,
            {"timestampFormat": KAFKA_TS_FORMAT},
        ).alias("e")
    )
    return parsed.select("e.*").filter(F.col("event_id").isNotNull())


def _kafka_stream(spark: SparkSession, cfg: SourceConfig) -> DataFrame:
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", cfg.starting_offsets)
        .option("failOnDataLoss", str(cfg.fail_on_data_loss).lower())
    )
    if cfg.max_offsets_per_trigger is not None:
        reader = reader.option(
            "maxOffsetsPerTrigger", cfg.max_offsets_per_trigger
        )
    for k, v in cfg.extra_options.items():
        reader = reader.option(k, v)
    return decode_kafka_events(reader.load())


def is_missing_datasource(exc: Exception) -> bool:
    """True iff ``exc`` is Spark's data-source-not-found failure,
    matched on the ERROR CLASS (``DATA_SOURCE_NOT_FOUND`` plus the two
    legacy template ids), not on message text: the message probe the
    round-6 review flagged only matched the legacy wording ("Failed to
    find data source") and would silently report a connector PRESENT if
    a future Spark dropped that template. Message matching survives
    only as a fallback for exceptions that carry no error class, and it
    accepts both the legacy and the current ("Failed to find the data
    source") phrasings."""
    from pyspark.errors import AnalysisException

    if isinstance(exc, AnalysisException):
        cls = None
        for getter in ("getCondition", "getErrorClass"):
            try:
                cls = getattr(exc, getter)()
            except Exception:
                cls = None
            if cls:
                break
        if cls:
            return cls in {
                "DATA_SOURCE_NOT_FOUND",
                "_LEGACY_ERROR_TEMP_1139",
                "_LEGACY_ERROR_TEMP_1140",
            }
    msg = str(exc)
    return "Failed to find" in msg and "data source" in msg


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the classpath.

    The sandbox ships without it (and without a broker); a deployment
    adds ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``
    and the ``kafka`` transport works with zero code change.
    """
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "probe:9092"
        ).option("subscribe", "probe").load()
        return True
    except Exception as exc:  # AnalysisException: DATA_SOURCE_NOT_FOUND
        return not is_missing_datasource(exc)


# --------------------------------------------------------------------------
# rate transport (load generator)
# --------------------------------------------------------------------------


def _rate_stream(spark: SparkSession, cfg: SourceConfig) -> DataFrame:
    """Built-in rate source mapped onto synthetic canonical events."""
    r = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", cfg.rows_per_second)
        .load()
    )
    return r.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod("value", F.lit(1000)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod("value", F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod("value", F.lit(10000)) / 100.0).alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


__all__ = [
    "EVENTS_SCHEMA",
    "KAFKA_WIRE_SCHEMA",
    "TEXT_WIRE_OPTIONS",
    "TEXT_WIRE_SCHEMA",
    "SourceConfig",
    "decode_kafka_events",
    "encode_text_wire",
    "kafka_available",
    "open_events_stream",
    "read_text_wire",
    "stage_in_order",
    "stage_text_chunks",
]
