"""2.G — true Structured Streaming operators, run to completion per call.

Each registered callable starts a real streaming query (file-source
replay of the events fixture), runs it with trigger(availableNow), and
returns the materialized result so the driver can hash-compare it like
any batch query. Every key carries a full SQL oracle: batching-invariant
results (dedup, aggregation, stream-stream join, the hive sink, the
pass-through smoke) are directly batch-expressible, and the
watermark/late-data key pins its micro-batch boundaries (one mtime-ordered
chunk per batch) so the append-mode emission rule itself is replayed in
SQL; tests/test_streaming.py asserts the late-drop counts besides.

Each stateful key's dataflow is a module-level builder over a streaming
DataFrame (``event_type_totals``, ``dedup_within_watermark``,
``hourly_window_counts``, ``purchase_signup_join``,
``per_user_counts``), so the state-scale rehearsal
(scripts/stream_scale.py) and the tests run the keys' own dataflows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load, scratch_dir
from flume_hive_batch_sink_spark.partitioning import scoped_conf
from flume_hive_batch_sink_spark.registry import query
from flume_hive_batch_sink_spark.streaming import harness, sink, source

_WM_DELAY = "10 minutes"


def event_type_totals(stream: DataFrame) -> DataFrame:
    """Per-event_type count and rounded value sum (complete mode)."""
    return stream.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Drop redelivered event_ids within a 10-minute watermark."""
    return stream.withWatermark("ts", _WM_DELAY).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def hourly_window_counts(stream: DataFrame) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts (append mode emits a
    window once the watermark passes its end)."""
    return (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def purchase_signup_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Purchases (from ``left``) within 2 h after a signup (from
    ``right``) by the same user: a stream-stream range join with 1-hour
    watermarks on both sides."""
    purchases = (
        left.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .alias("p")
    )
    signups = (
        right.filter(F.col("event_type") == "signup")
        .withWatermark("ts", "1 hour")
        .alias("s")
    )
    return purchases.join(
        signups,
        F.expr(
            "p.user_id = s.user_id AND p.ts >= s.ts "
            "AND p.ts <= s.ts + INTERVAL 2 HOUR"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("s.event_id").alias("signup_id"),
    )


def per_user_counts(stream: DataFrame) -> DataFrame:
    """Per-user running event count in explicit ``GroupState``
    (``applyInPandasWithState``, NoTimeout, update mode): each batch
    emits the group's updated total. The update fn is defined here so
    it ships to the Python workers by value."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id BIGINT, n_events BIGINT",
        "n BIGINT",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _sink_table(
    spark: SparkSession, stream_df: DataFrame, out_dir: str, sf_dir: str
) -> DataFrame:
    """Drain ``stream_df`` through the Hive sink into ``out_dir``, write
    the done markers, and return the landed table. The epoch write's
    keyed repartition (skipped for a small one-split epoch) sizes itself
    from spark.sql.shuffle.partitions, scoped here to the stream's
    volume."""
    n = harness.events_stream_partitions(sf_dir)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)}):
        sink.start_hive_sink(stream_df, out_dir).awaitTermination()
    sink.finalize_partitions(spark, out_dir)
    return sink.read_sink_table(spark, out_dir)


@query(
    "stream_agg_update",
    oracle="""
    SELECT event_type, count(*) AS n, ROUND(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming aggregation, complete output mode: the final
    state must equal the batch aggregate regardless of batching."""
    agg = event_type_totals(harness.events_stream(spark, sf_dir))
    return harness.run_with_progress(
        agg, "agg_update", "complete", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]


@query(
    "stream_dedup_wm",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within watermark: the stream is self-unioned (every
    event delivered twice — Flume at-least-once redelivery) and
    `dropDuplicatesWithinWatermark` restores effectively-once."""
    s = harness.events_stream(spark, sf_dir)
    out = harness.run_with_progress(
        dedup_within_watermark(s.union(s)), "dedup_wm", "append", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]
    return out.groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "stream_watermark",
    oracle="""
    WITH chunked AS (
      SELECT ts, ntile(4) OVER (ORDER BY ts, event_id) AS chunk FROM events
    ), wm AS (
      SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events
    )
    SELECT date_trunc('hour', ts) AS ws, count(*) AS n
    FROM chunked, wm
    WHERE chunk > 1
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics: the oldest quarter of events is replayed LAST,
    after newer chunks advanced the watermark past it, so its windows are
    dropped from append-mode output. Deterministic given the pinned file
    order (one chunk per micro-batch, mtime-ordered), which makes the
    result batch-expressible: append mode emits exactly the hour windows
    whose end ≤ final watermark (global max ts − 10 min), counting only
    the on-time chunks (2..4) — every chunk-1 row arrives after the
    watermark passed its window and is dropped. The oracle replays that
    rule in SQL; tests/test_streaming.py additionally asserts the
    dropped-window counts."""
    s = harness.replay_chunks(spark, sf_dir, n_chunks=4, late_chunk=True)
    return harness.run_with_progress(
        hourly_window_counts(s), "watermark", "append", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, s.event_id AS signup_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition and
    watermarks on both sides — purchases within 2h after a signup. Inner
    join results are batching-invariant, so the batch range join is an
    exact oracle. Both sides read one staged stream (a self-join), so
    the fixture is staged once."""
    events = harness.events_stream(spark, sf_dir)
    joined = purchase_signup_join(events, events)
    return harness.run_with_progress(
        joined, "ss_join", "append", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]


@query(
    "stream_foreachbatch_hive",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def stream_foreachbatch_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference replacement (BASELINE.json:7): stream → foreachBatch
    → Hive-partitioned table with idempotent epoch writes + done markers.
    The re-read table's per-partition counts must equal the source."""
    out_dir = os.path.join(scratch_dir("stream_hive_"), "events_tbl")
    s = harness.events_stream(spark, sf_dir)
    table = _sink_table(spark, s, out_dir, sf_dir)
    return table.groupBy(
        F.col("dt").cast("string").alias("dt"), "hr"
    ).agg(F.count("*").alias("n_rows"))


@query(
    "stream_rate_source_smoke",
    oracle="SELECT event_id, event_type FROM events",
)
def stream_rate_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic local stream source smoke: chunked file replay in ts
    order with no watermark or aggregation, so append mode passes every
    row through exactly once — the output is the events projection
    itself, batch-expressible regardless of micro-batch boundaries."""
    s = harness.replay_chunks(spark, sf_dir, n_chunks=3, late_chunk=False)
    return harness.run_with_progress(
        s.select("event_id", "event_type"), "replay_smoke", "append", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]


@query(
    "stream_custom_state",
    oracle="""
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    """,
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count kept in explicit GroupState across
    micro-batches (4-chunk replay). Each batch emits the group's updated
    total; the final state — max per user, since counts are monotone —
    must equal the batch aggregate regardless of batching. This is the
    escape hatch for stateful semantics Spark's built-in streaming
    aggregates can't express (custom eviction, per-group machines).
    """
    s = harness.replay_chunks(spark, sf_dir, n_chunks=4)
    emitted = harness.run_with_progress(
        per_user_counts(s), "custom_state", "update", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]
    return emitted.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_text_ingest_hive",
    oracle="""
    SELECT strftime(ts, '%Y%m%d') AS dt, CAST(hour(ts) AS BIGINT) AS hr,
           count(*) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events GROUP BY 1, 2
    """,
)
def stream_text_ingest_hive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete Flume text pipeline as ONE streaming composite:
    delimited-text chunk files (the ``serialize_text_line`` wire format
    — what the reference drains from its channel) are consumed by a
    file-source STREAM, parsed with a declared schema, and landed in the
    dt/hr-partitioned Hive-style table through the exactly-once
    foreachBatch sink (idempotent epoch overwrite + done markers —
    streaming/sink.py), then the table is re-read and its per-partition
    profile compared against the batch source of truth. Closes the loop
    the batch keys cover piecewise: serialize → file stream → parse →
    partitioned write → finalize → read-back.

    The text staging happens EXECUTOR-SIDE through the one ordered
    stager (``source.stage_text_chunks``): chunk id is a deterministic
    function of the event DATE (the final table state is
    batching-invariant, so any deterministic chunking works), every
    chunk is serialized in one distributed write, nothing is collected
    to the driver and no WindowExec appears anywhere in the plan.
    Pinned mtimes + maxFilesPerTrigger = ⌈n_files/2⌉ deliver exactly
    two real micro-batches, so multiple epochs still hit the
    epoch-overwrite path while paying the fixed per-epoch cost
    (foreachBatch round-trip + commit) twice instead of once per file.
    A chunk whose files straddle the epoch boundary lands one (dt, hr)
    in both epoch= subtrees — harmless: epochs own disjoint directories
    and the read-back drops the epoch column.

    Chunking by DATE (not by event_id hash) is what Flume's channel
    actually delivers — a roughly time-ordered drain — and it is the
    fixed-overhead win: each (dt, hr) Hive partition belongs to exactly
    ONE epoch, so the table holds #(dt,hr) parquet files total instead
    of epochs×#(dt,hr), and every epoch's dynamic-overwrite commit
    touches only its own time slice (was: every epoch rewrote-or-added
    under all ~720 (dt,hr) dirs; 4× the files, 4× the commit renames,
    4× the read-back listing — measured 42 s → well under 20 s at
    sf0.01 for identical final state).
    Timestamps are serialized with microseconds ('.SSSSSS'), so the
    landed table equals the source at full timestamp precision.
    """
    src, n_files = source.stage_text_chunks(spark, sf_dir)
    # the returned DataFrame lazily reads out_dir, so the tree must
    # outlive this call — scratch_dir reclaims it at interpreter exit
    out_dir = os.path.join(scratch_dir("stream_text_ingest_"), "events_tbl")
    # exactly TWO micro-batches whatever the staged file count
    s = source.read_text_wire(
        spark.readStream.option("maxFilesPerTrigger", max(1, (n_files + 1) // 2)),
        src,
    )
    table = _sink_table(spark, s, out_dir, sf_dir)
    return table.groupBy(
        F.col("dt").cast("string").alias("dt"), F.col("hr").cast("long").alias("hr")
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(e.value AS DECIMAL(18,4))), 2) :: DOUBLE AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the Flume "decorate events with a
    dimension" pattern done the Structured Streaming way: the static
    side (customer) is a plain batch DataFrame joined into the stream;
    Spark re-plans it per micro-batch as a broadcast hash join, so the
    stream side never shuffles and dimension updates between batches
    are picked up automatically (the canonical slowly-changing-dim
    serving pattern). State-free — unlike stream-stream joins no
    watermark bookkeeping is needed. Complete-mode aggregate equals the
    batch join, which is what the oracle replays; DECIMAL sums keep
    accumulation order irrelevant."""
    s = harness.events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = s.join(F.broadcast(dim), s.user_id == dim.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    return harness.run_with_progress(
        agg, "static_join", "complete", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]
