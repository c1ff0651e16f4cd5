"""2.A — Sources, sinks, and the reference's ingest dataflow.

The reference (`sogou/flume-hive-batch-sink`, reconstructed in SURVEY.md
§0.1 — the mount was empty, so citations are to the survey's [R-pub]
reconstruction) takes Flume events in transactional batches, resolves a
time-based Hive partition per event from a path template, serializes
delimited-text records, rolls files, and registers partitions. Each step
is re-expressed here as a declarative DataFrame op so Catalyst plans it:
projection/pushdown for parse+project, `date_format`/`hour` for the
`%Y%m%d/%H` path-template escapes, `concat_ws` for the text serializer,
`partitionBy` writes for partition placement, `maxRecordsPerFile` for the
roll policy, and `_DONE` markers for the done-flag protocol.

Scale notes (100 TB posture): every op here is a narrow map or a single
hash aggregation on the partition keys; the write path repartitions
its input by the partition keys before `partitionBy`, so each Hive
partition is produced by one task (the writer-cache/`maxOpenFiles`
analogue). An input of one split under AQE's minimum partition size (a
streaming epoch of one staged file) would be coalesced to one task
anyway, so it goes to the writer unshuffled. File size is bounded by
`maxRecordsPerFile` (the roll-policy analogue).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import data_files, load, scratch_dir
from flume_hive_batch_sink_spark.partitioning import fits_one_task
from flume_hive_batch_sink_spark.registry import query


def with_partition_keys(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Flume `%Y%m%d` / `%H` path-template escapes as derived columns."""
    return df.withColumn("dt", F.date_format(ts_col, "yyyyMMdd")).withColumn(
        "hr", F.hour(ts_col).cast("long")
    )


@query("scan_parquet", oracle="SELECT * FROM events")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity scan of the event stream table (channel-take analogue)."""
    return load(spark, sf_dir, "events")


@query(
    "ingest_project",
    oracle="""
    SELECT event_id, user_id, event_type,
           ROUND(value, 2) AS value_r,
           CAST(user_id AS VARCHAR) AS user_str
    FROM events
    """,
)
def ingest_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract typed columns from the raw event (body split / header read)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value_r"),
        F.col("user_id").cast("string").alias("user_str"),
    )


@query(
    "ingest_json_props",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def ingest_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON `props` column (Flume headers analogue) into typed cols."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@query(
    "partition_keys",
    oracle="""
    SELECT event_id, strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr
    FROM events
    """,
)
def partition_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-partition key derivation — the `%Y%m%d/%H` escape substitution."""
    ev = load(spark, sf_dir, "events")
    return with_partition_keys(ev).select("event_id", "dt", "hr")


@query(
    "serialize_text_line",
    oracle=r"""
    SELECT event_id,
           concat_ws(chr(9), CAST(event_id AS VARCHAR),
                     strftime(ts, '%Y-%m-%d %H:%M:%S'),
                     CAST(user_id AS VARCHAR), event_type,
                     CAST(ROUND(value, 2) AS VARCHAR)) AS line
    FROM events
    """,
)
def serialize_text_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text record serialization (the reference's text serializer)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.concat_ws(
            "\t",
            F.col("event_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.round("value", 2).cast("string"),
        ).alias("line"),
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT event_id, date_trunc('second', ts) AS ts, user_id, event_type,
           ROUND(value, 4) AS value
    FROM events
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize to delimited text, rescan with a declared schema.

    Round-trips the serializer output through files — the core of the
    reference's write path — and proves the rescan is lossless.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
    )
    out = os.path.join(scratch_dir("csv_roundtrip_"), "events_tsv")
    ev.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(out)
    back = (
        spark.read.schema(
            "event_id BIGINT, ts_str STRING, user_id BIGINT, "
            "event_type STRING, value DOUBLE"
        )
        .option("sep", "\t")
        .csv(out)
    )
    return back.select(
        "event_id",
        F.to_timestamp("ts_str", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


@query(
    "batch_counters",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n_events,
           ROUND(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def batch_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition sink counters (events drained / batch totals).

    Map-side partial aggregation makes this a single light shuffle on the
    partition keys at any scale.
    """
    ev = with_partition_keys(load(spark, sf_dir, "events"))
    return ev.groupBy("dt", "hr").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "dedup_replay",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT * FROM events UNION ALL SELECT * FROM events
    ) GROUP BY ALL
    """,
)
def dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup: Flume rollback ⇒ redelivery ⇒ duplicates.

    Simulates a redelivered batch (union of the stream with itself) and
    collapses on the unique event key — the batch twin of
    `dropDuplicatesWithinWatermark` (streaming/, stream_dedup_wm).
    """
    ev = load(spark, sf_dir, "events")
    replayed = ev.unionByName(ev)
    return replayed.dropDuplicates(["event_id"])


@query(
    "idle_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS gap
      FROM events
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def idle_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-timeout semantics as a data op: new session after a >30 min gap.

    The reference closes a partition writer after `idleTimeout` with no
    appends; the same gap logic over a user's event stream yields
    sessions. Implemented with lag + a running sum of session-start flags
    (one shuffle on user_id; state is O(1) per row).
    """
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    with_sess = ev.withColumn(
        "session_id",
        F.sum(
            F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def hive_partitioned_write_path(
    df: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("dt", "hr"),
    max_records_per_file: int = 1_000_000,
) -> None:
    """The reference's core write path, Spark-native — the engine's one
    Hive-partitioned writer (the streaming sink's epochs land through it).

    The input is repartitioned on the partition keys, so one task
    writes each partition (`maxOpenFiles` analogue) — unless it is one
    split under AQE's minimum partition size (``fits_one_task``), which
    AQE would coalesce to one reducer task anyway: then it goes to the
    writer as is, and the writer's own sort on the partition columns
    still gives one file per partition. Larger one-split inputs (a
    whole events table) keep the shuffle, so their many leaves are
    written by parallel tasks. `maxRecordsPerFile` is the roll-count
    policy; the parquet committer's tmp+rename is the reference's
    tmp-file + rename-on-close protocol. Overwrite is dynamic and
    writer-scoped: only the partitions this write produces are replaced,
    and the session conf is never touched.
    """
    if not fits_one_task(df):
        df = df.repartition(*[F.col(c) for c in partition_cols])
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(out_dir)
    )


def leaf_partitions(out_dir: str) -> list[str]:
    """The table's leaf partition directories: the parents of its data
    files (io.data_files), sorted."""
    return sorted({os.path.dirname(p) for p, _size in data_files(out_dir)})


def write_done_markers(spark: SparkSession, out_dir: str) -> list[str]:
    """Write a `_DONE` marker per completed partition directory.

    The reference writes a per-partition done flag for downstream
    schedulers after metastore registration [R-pub: SURVEY.md §0.1]; we
    do the same after the file commit. Driver-side listing of partition
    dirs is O(#files), not O(data).
    """
    marked = []
    for leaf in leaf_partitions(out_dir):
        marker = os.path.join(leaf, "_DONE")
        with open(marker, "w") as fh:
            fh.write("done\n")
        marked.append(marker)
    return sorted(marked)


@query(
    "hive_partitioned_write",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def hive_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as a Hive-style dt=/hr= partitioned table, then re-read.

    Proves partition placement end-to-end: the returned per-partition
    counts come from re-reading the written layout (partition values are
    recovered from directory names), and must equal the source-side
    counts the oracle computes.
    """
    ev = with_partition_keys(load(spark, sf_dir, "events"))
    out = os.path.join(scratch_dir("hive_write_"), "events_tbl")
    hive_partitioned_write_path(ev, out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("dt").cast("string").alias("dt"), "hr").agg(
        F.count("*").alias("n_rows")
    )


@query(
    "file_roll_policy",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_rows
    FROM events GROUP BY 1
    """,
)
def file_roll_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll files by record count (`rollCount` analogue) and verify no loss.

    Writes hour-partitioned with a small maxRecordsPerFile so partitions
    split into multiple files; the per-hour counts after re-read must be
    unchanged. (File-count bound itself is asserted in tests/.)
    """
    ev = with_partition_keys(load(spark, sf_dir, "events"))
    out = os.path.join(scratch_dir("file_roll_"), "events_tbl")
    hive_partitioned_write_path(
        ev, out, partition_cols=("hr",), max_records_per_file=500
    )
    return spark.read.parquet(out).groupBy("hr").agg(F.count("*").alias("n_rows"))


@query(
    "done_marker",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(TRUE AS BOOLEAN) AS has_done
    FROM events GROUP BY 1
    """,
)
def done_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completed-partition `_DONE` markers for downstream schedulers."""
    ev = with_partition_keys(load(spark, sf_dir, "events"))
    out = os.path.join(scratch_dir("done_marker_"), "events_tbl")
    hive_partitioned_write_path(ev, out, partition_cols=("dt",))
    write_done_markers(spark, out)
    rows = [
        (
            os.path.basename(leaf).split("=", 1)[1],
            os.path.exists(os.path.join(leaf, "_DONE")),
        )
        for leaf in leaf_partitions(out)
    ]
    return spark.createDataFrame(rows, "dt STRING, has_done BOOLEAN")


def register_catalog_partitions(
    spark: SparkSession, sf_dir: str, metastore_cfg=None
) -> str:
    """The reference's metastore-registration step through the
    metastore seam (sources/metastore.py): write the dt/hr layout,
    CREATE an external partitioned table over it, then register every
    partition — half via ``ALTER TABLE … ADD PARTITION`` (the
    ``add_partition`` RPC analogue [R-pub: SURVEY.md §0.1/§3.3]), the
    rest via ``MSCK REPAIR TABLE`` (the bulk-recovery twin). Returns
    the qualified table name; from here on the catalog — not directory
    inference — owns partition discovery and pruning. Driver work is
    O(#partitions).

    ``metastore_cfg`` selects the catalog: the in-process session
    catalog (sandbox default) or an external HMS URI wired at session
    build time (metastore.configure_builder) — the DDL issued here is
    byte-identical either way, which is the whole point of the seam."""
    import hashlib

    from flume_hive_batch_sink_spark.sources import metastore as ms
    from flume_hive_batch_sink_spark.streaming.source import EVENTS_SCHEMA

    cfg = metastore_cfg or ms.MetastoreConfig()
    ev = with_partition_keys(load(spark, sf_dir, "events"))
    out = os.path.join(scratch_dir("catalog_tbl_"), "events_tbl")
    hive_partitioned_write_path(ev, out)

    tbl = "evcat_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = ms.create_external_partitioned_table(
        spark, cfg, tbl, EVENTS_SCHEMA, [("dt", "STRING"), ("hr", "BIGINT")], out
    )

    parts = []
    for leaf in leaf_partitions(out):
        rel = os.path.relpath(leaf, out).split(os.sep)
        kv = dict(d.split("=", 1) for d in rel)
        parts.append({"dt": kv["dt"], "hr": int(kv["hr"])})
    # incremental registration for the first half (one batched ALTER —
    # one catalog round-trip, the per-epoch path a streaming sink takes)
    ms.add_partitions(spark, cfg, tbl, parts[: len(parts) // 2])
    # bulk recovery for everything else (restart / backfill path)
    ms.repair_partitions(spark, cfg, tbl)
    return name


@query(
    "hive_catalog_partitions",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def hive_catalog_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition profile answered THROUGH the catalog table after
    explicit partition registration (ALTER ADD + MSCK) — proves the
    registration path end-to-end: a partition the catalog didn't learn
    about would be invisible to the query and break the count."""
    tbl = register_catalog_partitions(spark, sf_dir)
    return (
        spark.table(tbl)
        .groupBy("dt", F.col("hr").cast("long").alias("hr"))
        .agg(F.count("*").alias("n_rows"))
    )


@query(
    "ingest_dlq_routing",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 211 = 0 THEN 'not_a_number'
                  ELSE CAST(value AS VARCHAR) END AS value_txt,
             CASE WHEN event_id % 383 = 0 THEN NULL
                  ELSE event_type END AS event_type
      FROM events
    ), routed AS (
      SELECT event_id, event_type,
             TRY_CAST(value_txt AS DOUBLE) AS value_num,
             (TRY_CAST(value_txt AS DOUBLE) IS NOT NULL
              AND event_type IS NOT NULL) AS ok
      FROM raw
    )
    SELECT CASE WHEN ok THEN 'main' ELSE 'dlq' END AS sink,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CASE WHEN ok
                    THEN CAST(ROUND(value_num, 4) AS DECIMAL(18,4))
                    ELSE 0 END), 2) AS DOUBLE) AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS first_bad_or_good
    FROM routed GROUP BY 1
    """,
)
def ingest_dlq_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing — the at-least-once sink's error
    contract (a Flume-lineage pipeline must NEVER drop a malformed
    event silently, and must never let one poison a batch): rows are
    parsed with TRY_CAST-style null-on-failure semantics and routed
    main/dlq by a validity predicate, each sink aggregated
    independently. Corruption is synthesized deterministically
    (unparseable numeric every 211th id, missing required field every
    383rd) so the oracle replays the routing exactly. One map-only
    parse + one hash agg; at scale the dlq side is tiny and lands in
    its own partition directory for replay after a parser fix —
    rollback-free error isolation, the exact property the reference's
    transaction-rollback path provides by cruder means."""
    ev = load(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.when(F.col("event_id") % 211 == 0, "not_a_number")
        .otherwise(F.col("value").cast("string"))
        .alias("value_txt"),
        F.when(F.col("event_id") % 383 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    routed = raw.select(
        "event_id",
        "event_type",
        F.expr("TRY_CAST(value_txt AS DOUBLE)").alias("value_num"),
    ).withColumn(
        "ok",
        F.col("value_num").isNotNull() & F.col("event_type").isNotNull(),
    )
    return routed.groupBy(
        F.when(F.col("ok"), "main").otherwise("dlq").alias("sink")
    ).agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(
                F.when(
                    F.col("ok"),
                    F.round("value_num", 4).cast("decimal(18,4)"),
                ).otherwise(F.lit(0).cast("decimal(18,4)"))
            ),
            2,
        ).cast("double").alias("sum_value"),
        F.min("event_id").alias("first_bad_or_good"),
    )
