"""Round-12 extension key: NATIVE streaming session windows.

``idle_sessionize`` (operators/ingest.py) and ``stream_session``
(streaming/batch_twins.py) cover gap-sessionization batch-side; this
key exercises Spark's built-in **streaming** ``session_window`` — the
stateful operator that MERGES windows across micro-batches as a user's
events trickle in, and closes a session only when the watermark passes
its end (last event + gap). That merge-across-batches state machine is
exactly the reference's idle-timeout transaction close done the
Structured Streaming way, and none of the existing stream_* keys
covers it (they use tumbling windows, dedup, or joins).

Registered registry-LAST (registry._TAIL_MODULES): new rounds append so
the driver-sampling rotation prefix of earlier rounds stays stable.

100 TB posture: session state is per-(user, open-session) and the
watermark EVICTS every closed session (the round-12 state-scale
rehearsal, scripts/stream_scale.py, measures exactly this bound for
the other stateful shapes); state size tracks the number of concurrent
open sessions, never corpus size. The oracle replays both the
sessionization (gap islands) and the append-mode emission rule
(sessions whose end ≤ final watermark = max ts − delay), which is
deterministic because the replay is ts-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.registry import query
from flume_hive_batch_sink_spark.streaming import harness

_GAP = "6 hours"  # per-user inter-event mean ≈ 10.8 h → real merges
_WM_DELAY = "10 minutes"

_SESSION_ORACLE = """
    WITH marks AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 6 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ), agg AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_value
      FROM sess GROUP BY user_id, sid
    ), wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT user_id, session_start, n_events, sum_value
    FROM agg, wm
    WHERE last_ts + INTERVAL 6 HOUR <= wm.w
"""


def session_windows(stream: DataFrame) -> DataFrame:
    """Per-user 6 h-gap session windows behind a 10-minute watermark:
    count and DECIMAL value sum per session, keyed by session start."""
    return (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy("user_id", F.session_window("ts", _GAP).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user session windows (6 h gap), append mode over a
    4-chunk ts-ordered replay: sessions merge in state across
    micro-batches and are emitted once the watermark (max ts − 10 min)
    passes their end (last event + gap). The oracle replays the gap-
    islands sessionization AND the emission cutoff — a session whose
    last event falls within (gap + delay) of the corpus max ts is still
    open at end-of-stream and must NOT be emitted by either engine.

    Spark session semantics pinned against the oracle (and by
    tests/test_round12_keys.py on synthetic boundary data): an event at
    EXACTLY prev_ts + gap still MERGES into the session — Spark merges
    two session windows when next.start ≤ prev.end, and prev.end is
    last_ts + gap, so the boundary is end-INCLUSIVE; only a strictly
    larger gap starts a new session. The oracle's island break is
    therefore strict ``> INTERVAL 6 HOUR``. DECIMAL-cast sums keep
    accumulation order irrelevant across engines."""
    return harness.run_with_progress(
        session_windows(harness.replay_chunks(spark, sf_dir, n_chunks=4)),
        "session_win", "append", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]
