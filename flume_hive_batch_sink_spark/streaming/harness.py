"""Deterministic local streaming sources for tests and streaming queries.

The reference consumes an unbounded Flume channel; locally we replay the
`events` fixture as a file-source stream. Two shapes:

- ``events_stream``: the whole table as one availableNow micro-batch
  (order-independent operators: dedup, aggregation, joins).
- ``replay_chunks``: the table split into N files in a controlled order
  with monotonically bumped mtimes + ``maxFilesPerTrigger=1``, so each
  file becomes its own micro-batch in a deterministic sequence — the
  harness for watermark/late-data semantics (SURVEY.md §5.2.3).

Both are thin transport selections over the source seam
(``streaming/source.py``); every ``stream_*`` key therefore runs
through the same contract a ``format("kafka")`` deployment would use —
swap ``SourceConfig.transport`` and nothing downstream changes.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _tmpdir(prefix: str) -> str:
    """mkdtemp that reclaims itself at interpreter exit — streaming
    sources/checkpoints must outlive the operator call (results are
    consumed lazily), so eager cleanup is unsafe, but leaking temp
    trees across a long parity sweep is not acceptable either."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def events_stream_partitions(sf_dir: str) -> int:
    """State/shuffle partition count for a replay of the events fixture,
    derived from the fixture's bytes (see _state_conf_scope)."""
    from flume_hive_batch_sink_spark.partitioning import (
        input_scaled_partitions,
    )

    import os as _os

    return input_scaled_partitions(_os.path.join(sf_dir, "events.parquet"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (single batch under
    availableNow). Routed through the transport seam (source.py): the
    same call sites serve Kafka by swapping SourceConfig.transport."""
    from flume_hive_batch_sink_spark.streaming import source

    return source.open_events_stream(
        spark, source.SourceConfig(transport="file", sf_dir=sf_dir)
    )


def replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    late_chunk: bool = False,
) -> DataFrame:
    """Split events into ts-ordered chunk files replayed one per batch.

    With ``late_chunk=True`` the FIRST chunk (oldest events) is replayed
    LAST — after newer chunks have advanced the watermark — so its rows
    arrive late. File order is pinned via mtime (the file source lists by
    modification time) and ``maxFilesPerTrigger=1``. Routed through the
    transport seam (source.py) like events_stream.
    """
    from flume_hive_batch_sink_spark.streaming import source

    return source.open_events_stream(
        spark,
        source.SourceConfig(
            transport="file-chunks",
            sf_dir=sf_dir,
            n_chunks=n_chunks,
            late_chunk=late_chunk,
        ),
    )


def replay_chunks_with_sentinels(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    sentinel_offsets_min: tuple = (),
    late_chunk: bool = False,
) -> DataFrame:
    """``replay_chunks`` plus trailing single-event sentinel chunks that
    push the watermark past every real key's event-time TTL — the drain
    barrier for TTL-evicting stateful operators (state_ttl.py). Each
    offset (minutes past the fixture's max ts) becomes one extra
    micro-batch carrying exactly one ``user_id = -1`` event.
    ``late_chunk`` composes (round-15): the oldest chunk replays after
    the newer ones but BEFORE the sentinels — the adversarial schedule
    the TTL watermark clamp exists for."""
    from flume_hive_batch_sink_spark.streaming import source

    return source.open_events_stream(
        spark,
        source.SourceConfig(
            transport="file-chunks",
            sf_dir=sf_dir,
            n_chunks=n_chunks,
            late_chunk=late_chunk,
            sentinel_offsets_min=tuple(sentinel_offsets_min),
        ),
    )


def _state_conf_scope(spark: SparkSession, state_partitions: int | None):
    """Conf scope for one streaming run: when ``state_partitions`` is
    given, pin ``spark.sql.shuffle.partitions`` (which is what sizes a
    NEW streaming query's state-store operators — the count is recorded
    in the checkpoint on the first batch) for the duration of the run
    and restore after. Round-16, guide §2.2: each state partition costs
    a per-micro-batch task + state-store commit (delta file, maintenance),
    so a tiny replayed stream paying the session's full batch
    parallelism per batch is pure fixed overhead — the caller derives
    the count from STREAM VOLUME (partitioning.input_scaled_partitions,
    the same ~32 MB/partition rule bench.py uses), so a real deployment
    scales up with the data instead of inheriting a local constant.
    Safe to scope because every harness run COMPLETES inside the scope
    (availableNow + awaitTermination) and each run owns a fresh
    checkpoint."""
    from contextlib import nullcontext

    from flume_hive_batch_sink_spark.partitioning import scoped_conf

    if state_partitions is None:
        return nullcontext()
    return scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(state_partitions)}
    )


def run_with_progress(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    spark: SparkSession,
    fmt: str = "memory",
    state_partitions: int | None = None,
) -> tuple:
    """Run a streaming DataFrame to completion (availableNow) and return
    ``(result, progress)``: the result table (None for the ``noop``
    sink) and the per-micro-batch StreamingQueryProgress dicts — state
    operator rows total/updated/REMOVED, watermark, per-batch duration.
    The state-scale rehearsal (scripts/stream_scale.py) and the eviction
    regression gate (tests/test_streaming.py) read these; the ``noop``
    sink exercises the full pipeline without collecting data-sized
    output to the driver, which is what a 10M-event replay needs."""
    import json as _json

    chk = _tmpdir(f"chk_{name}_")
    w = (
        stream_df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
    )
    if fmt == "memory":
        w = w.queryName(name)
    with _state_conf_scope(spark, state_partitions):
        q = w.start()
        q.awaitTermination()
    progress = [_json.loads(p.json) for p in q.recentProgress]
    result = spark.table(name) if fmt == "memory" else None
    return result, progress
