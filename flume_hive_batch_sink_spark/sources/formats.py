"""Source/sink format connectors beyond parquet: JSON lines and ORC.

The reference serializes events to files under Hive partition dirs in a
configurable format (delimited text, columnar) [R-pub: serializer family,
SURVEY.md §0.1]. Our format surface is Spark's native DataSource
connectors; each roundtrip operator proves a format's write → rescan path
is lossless against the parquet source of truth, the same contract
`scan_csv_roundtrip` proves for delimited text (operators/ingest.py).

100 TB posture: all three formats are splittable and scanned by the
vectorized readers; schema is always declared on rescan (never inferred —
inference is an extra full pass over the data at scale).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load, scratch_dir
from flume_hive_batch_sink_spark.registry import query


def _derived_cache_tag(sf_dir: str, src_table: str = "events") -> str:
    """Cache key for warehouse-materialized derived copies of a fixture
    table: md5 of the ABSOLUTE fixture path plus the source parquet's
    (mtime_ns, size). Two fixture trees that share an ``sf<scale>``
    suffix (the repo has both repo-local testdata/ and /root/testdata),
    or a regenerated fixture, can therefore never serve each other's
    stale derivation — the round-6 review's cache-poisoning finding.
    Same convention as metastore.register_catalog_partitions."""
    src = os.path.join(os.path.abspath(sf_dir), f"{src_table}.parquet")
    st = os.stat(src)
    key = f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}"
    return hashlib.md5(key.encode()).hexdigest()[:12]

_PROJECTED = """
    SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type,
           ROUND(value, 4) AS value
    FROM events
"""


def _events_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical serializable projection of events (second-precision
    ts, rounded value) shared by every format roundtrip."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.date_trunc("second", "ts").alias("ts"),
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
    )


@query("scan_json_roundtrip", oracle=_PROJECTED)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize events to JSON lines, rescan with a declared schema.

    JSON is the headers-and-body-friendly interchange format (the Flume
    event's closest self-describing analogue); timestamps travel as
    ISO-8601 strings and are re-parsed, proving the round-trip is
    value-lossless at second precision.
    """
    ev = _events_projection(spark, sf_dir).withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    out = os.path.join(scratch_dir("json_roundtrip_"), "events_json")
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, value DOUBLE"
    ).json(out)
    return back.select(
        "event_id",
        F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


@query("scan_orc_roundtrip", oracle=_PROJECTED)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize events to ORC, rescan. ORC is the Hive-native columnar
    format — the one a Hive batch sink of the reference's era would roll
    files in; types (incl. TIMESTAMP) survive natively, no string hop.
    """
    ev = _events_projection(spark, sf_dir)
    out = os.path.join(scratch_dir("orc_roundtrip_"), "events_orc")
    ev.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


def avro_available(spark: SparkSession) -> bool:
    """Probe for the spark-avro DataSource module.

    Probe result on this machine (2026-08-14, recorded per SURVEY §0's
    provenance policy): **absent**. PySpark 4.1.2 ships only Avro's
    core libraries (avro/avro-ipc/avro-mapred 1.12.1 jars — internal
    Spark dependencies), not the external ``spark-avro_2.13``
    DataSource module; there is no network to fetch it and no Python
    avro/fastavro fallback installed. A deployment adds
    ``--packages org.apache.spark:spark-avro_2.13:<spark version>``
    and ``scan_avro_roundtrip`` below runs unchanged — the probe gates
    it instead of hard-failing the registry.
    """
    import glob

    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-avro*")
    )
    if jars:
        return True
    try:
        spark.read.format("avro").load("/nonexistent_avro_probe")
        return True
    except Exception as exc:
        from flume_hive_batch_sink_spark.streaming.source import (
            is_missing_datasource,
        )

        return not is_missing_datasource(exc)


def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize events to Avro, rescan — the Flume-era wire format
    (Avro was THE event-serialization format of that stack). Connector-
    gated: raises with deployment instructions where spark-avro is
    absent (this sandbox — see avro_available); registered as a query
    key only when the module exists, so the driver contract never
    carries a key that cannot run here."""
    if not avro_available(spark):
        raise NotImplementedError(
            "spark-avro DataSource module not on the classpath; deploy with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        )
    ev = _events_projection(spark, sf_dir)
    out = os.path.join(scratch_dir("avro_roundtrip_"), "events_avro")
    ev.write.mode("overwrite").format("avro").save(out)
    return spark.read.format("avro").load(out)


def _maybe_register_avro() -> None:
    """Register scan_avro_roundtrip as a driver key iff the connector
    exists — checked WITHOUT a SparkSession (jar listing only), so
    import stays side-effect-free."""
    import glob

    import pyspark

    if glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-avro*")
    ):
        query("scan_avro_roundtrip", oracle=_PROJECTED)(scan_avro_roundtrip)


_maybe_register_avro()


@query(
    "scan_kafka_wire_roundtrip",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def scan_kafka_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka transport's serializer contract, driver-checked: events
    are encoded exactly as they would ride a Kafka topic (JSON payload
    in a binary value column, wire metadata alongside — the fixed
    schema Spark's kafka relation emits) and decoded by the SAME
    ``decode_kafka_events`` the streaming seam uses
    (streaming/source.py). Losslessness at full µs timestamp precision
    is what makes the file-replay results transferable to a Kafka
    deployment: the transport changes, the rows do not. Batch twin of
    an un-deployable integration test (no broker in-sandbox) — the
    transformation under test is identical batch vs stream."""
    from flume_hive_batch_sink_spark.streaming import source

    ev = load(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct("event_id", "ts", "user_id", "event_type", "value", "props"),
        {"timestampFormat": source.KAFKA_TS_FORMAT},
    )
    wire = ev.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit("events").alias("topic"),
        F.pmod("event_id", F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    return source.decode_kafka_events(wire)


@query(
    "scan_text_regex_parse",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           user_id, event_type,
           CAST(ROUND(value, 4) AS DOUBLE) AS value
    FROM events
    """,
)
def scan_text_regex_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-log ingestion path the reference world actually starts
    from: events serialized to logfmt-style text lines
    (``id=… ts=… user=… type=… value=…``), rescanned with
    ``spark.read.text``, and parsed by regexp_extract back into typed
    columns — proving the unstructured-text → typed-table hop is
    lossless. Complements scan_csv_roundtrip (delimited) with the
    free-form-line format a Flume tail source emits.

    Determinism: the value is fixed to 4 decimals with format_number
    BEFORE writing (string-exact roundtrip, no double re-rendering
    ambiguity), timestamps to whole seconds. Parse is 5 regexp_extract
    expressions in codegen — one pass, no UDF; at 100 TB text splits
    line-wise like CSV and the parse stays map-side. The text copy is
    written once per (session, sf) into the warehouse and reused
    (_SUCCESS-guarded) — no per-invocation temp-dir leak."""
    ev = load(spark, sf_dir, "events").select(
        F.format_string(
            "id=%d ts=%s user=%d type=%s value=%s",
            F.col("event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.col("user_id"),
            F.col("event_type"),
            F.format_number(F.round("value", 4), 4),
        ).alias("value")
    )
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or "/tmp"
    tag = _derived_cache_tag(sf_dir)
    out = os.path.join(wh, f"text_regex_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    line = F.col("value")
    return back.select(
        F.regexp_extract(line, r"id=(\d+)", 1).cast("bigint").alias(
            "event_id"
        ),
        F.regexp_extract(
            line, r"ts=(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})", 1
        ).alias("ts_s"),
        F.regexp_extract(line, r"user=(\d+)", 1).cast("bigint").alias(
            "user_id"
        ),
        F.regexp_extract(line, r"type=(\w+)", 1).alias("event_type"),
        F.regexp_replace(
            F.regexp_extract(line, r"value=([-\d.,]+)", 1), ",", ""
        )
        .cast("double")
        .alias("value"),
    )


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(value), 2) AS DOUBLE) AS sum_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '2024-01-05'
    GROUP BY 1, 2
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read half of hive_partitioned_write: events land in a
    dt-partitioned parquet layout, and a dt-filtered query must touch
    ONLY that partition's directory — partition PRUNING, the single
    biggest scan saver at 100 TB (a day filter on a year of data reads
    0.3% of files before any row is decoded). The filter appears as
    PartitionFilters in the scan node (plan-gated in
    tests/test_plans.py), not as a post-scan predicate.

    The partitioned copy is written once per (session, sf) into the
    session warehouse and reused — the same pay-once contract as the
    bucketed-join tables."""
    ev = load(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path or "/tmp"
    tag = _derived_cache_tag(sf_dir)
    out = os.path.join(wh, f"part_pruned_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-05")
    # the filter above stays on the raw (DATE-inferred) partition column
    # so pruning still happens at file listing; the projected dt is cast
    # back to the yyyy-MM-dd string the writer produced (and the oracle
    # emits) — partition-type inference must not leak into the result.
    return back.groupBy(
        F.col("dt").cast("string").alias("dt"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
