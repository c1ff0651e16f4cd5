"""Round-13 extension key: TTL-evicting custom streaming state.

``stream_custom_state`` (streaming/queries.py) keeps one counter per
user under ``GroupStateTimeout.NoTimeout`` — state bounded by |users|,
the documented contract. That bound is wrong for the workload the
reference actually drains (an unbounded channel where the active-key
working set is a sliding fraction of the all-time key space): at 100 TB
"state = |all users ever seen|" is the classic unbounded-state leak.
This key is the production variant — the same per-user counters under
**EventTimeTimeout**, so a user idle longer than the TTL (in event
time, measured against the watermark) is EVICTED: its session count is
emitted, its state removed, and a later event starts a fresh counter.
State is bounded by the ACTIVE key set inside the TTL horizon, never by
corpus size.

Determinism + oracle story: eviction depends only on (a) the pinned
chunk replay (ts-ordered ntile chunks, one per micro-batch) and (b)
watermark arithmetic in epoch-ms — no wall clock anywhere
(ProcessingTimeTimeout would be non-deterministic by construction,
which is why the event-time variant is the registered key). The stream
is closed by two trailing SENTINEL chunks (user_id = -1) whose
timestamps sit far past ``max(ts) + TTL``, so the watermark provably
passes every real user's timeout before the availableNow replay ends
and ALL state drains through the eviction path. The function emits
ONLY on eviction; therefore

    Σ evicted session counts per user  =  that user's total events

— exactly the invariant TTL eviction must preserve (no event lost when
state is dropped, none double-counted when a session restarts), and it
is batch-expressible: the oracle is the plain per-user count. Under an
OUT-OF-ORDER replay the invariant holds in its accounting form: the
engine's own pre-filter drops rows older than the watermark before the
update fn sees them (the watermark contract — surfaced as
numRowsDroppedByWatermark), so Σ evicted counts equals the ADMITTED
rows exactly; kept rows always satisfy ts ≥ wm, which also means the
setTimeoutTimestamp clamp below is a defensive invariant, not a hot
path. Verified end-to-end against a batch twin of the late_chunk
schedule (tests/test_streaming.py::
test_custom_state_ttl_late_chunk_replay_end_to_end, round-15). How the
total SPLITS into sessions depends on chunk boundaries and is pinned by
tests/test_streaming.py (eviction count > 0, per-user sums, sentinel
exclusion), plus the state-scale rehearsal row (scripts/stream_scale.py
``custom_state_ttl``) showing evicted > 0 and final state ≪ |users|.

Timestamps cross the Python boundary as ``unix_millis(ts)`` computed
JVM-side — the pandas batches never carry a timestamp, so session-tz
rendering can't skew the timeout arithmetic under a hostile driver tz.

Registered registry-LAST (registry._TAIL_MODULES) like every
post-r9 key, preserving the driver-sampling rotation prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.registry import query
from flume_hive_batch_sink_spark.streaming import harness

_TTL_MIN = 45  # evict a user idle > 45 min of event time
_WM_DELAY = "10 minutes"
# two sentinels: the first advances the watermark past max(ts)+TTL, the
# second's micro-batch then FIRES the remaining timeouts (timeout checks
# in batch i compare against the watermark set by batches < i) — no
# reliance on the trailing no-data batch
SENTINELS_MIN = (120, 240)

_TTL_ORACLE = """
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


def _make_update(ttl_ms: int):
    """Build the applyInPandasWithState update function (module-level
    factory so the closure ships only the TTL scalar to executors)."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n]}
            )
        else:
            n, last_ms = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                if len(pdf):
                    last_ms = max(last_ms, int(pdf["ts_ms"].max()))
            state.update((n, last_ms))
            # Spark requires the timeout to sit strictly ABOVE the
            # current watermark. ts-ordered chunks guarantee that for
            # last_ms + ttl on the happy path, but this dataflow is
            # documented over ANY canonical events stream and a
            # late_chunk replay can deliver a batch wholly BEHIND the
            # watermark (round-14 ADVICE) — clamp so a late batch
            # extends nothing but also throws nothing (its rows still
            # count; the session just expires at the watermark edge).
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + ttl_ms, wm_ms + 1))
            # emit nothing — sessions surface only through eviction

    return update


def ttl_counters_stream(
    spark: SparkSession,
    stream: DataFrame,
    ttl_min: int = _TTL_MIN,
) -> DataFrame:
    """The TTL-counter dataflow over any canonical events stream —
    shared by the registered key, the eviction regression test, and the
    state-scale rehearsal (scripts/stream_scale.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = stream.withWatermark("ts", _WM_DELAY).withColumn(
        "ts_ms", F.unix_millis("ts")
    )
    return s.groupBy("user_id").applyInPandasWithState(
        _make_update(ttl_min * 60 * 1000),
        "user_id BIGINT, n_events BIGINT",
        "n BIGINT, last_ms BIGINT",
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


@query("stream_custom_state_ttl", oracle=_TTL_ORACLE)
def stream_custom_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counters with event-time TTL eviction (see module
    docstring). 4 data chunks + 2 sentinel chunks; counts emitted only
    when the watermark evicts an idle user; the sentinels guarantee
    every real user drains, so the per-user SUM of emitted session
    counts equals the batch aggregate."""
    src = harness.replay_chunks(
        spark, sf_dir, n_chunks=4, sentinel_offsets_min=SENTINELS_MIN
    )
    emitted = harness.run_with_progress(
        ttl_counters_stream(spark, src), "custom_state_ttl", "update", spark,
        state_partitions=harness.events_stream_partitions(sf_dir),
    )[0]
    return (
        emitted.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n_events"))
    )
