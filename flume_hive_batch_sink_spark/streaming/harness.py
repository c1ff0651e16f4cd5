"""Deterministic local streaming sources for tests and streaming queries.

The reference consumes an unbounded Flume channel; locally we replay the
`events` fixture as a file-source stream. Two shapes:

- ``events_stream``: the whole table as one availableNow micro-batch
  (order-independent operators: dedup, aggregation, joins).
- ``replay_chunks``: the table split into N ts-ordered files in a
  controlled order with monotonically bumped mtimes +
  ``maxFilesPerTrigger=1``, so each file becomes its own micro-batch in
  a deterministic sequence — the harness for watermark/late-data
  semantics (SURVEY.md §5.2.3). Optional trailing sentinel chunks (one
  ``user_id = -1`` event each, far past the fixture's max ts) push the
  watermark past every TTL so event-time state drains before the
  replay ends. All chunks, sentinels included, are staged in one write
  by ``source.stage_in_order``.

Both are thin transport selections over the source seam
(``streaming/source.py``); every ``stream_*`` key therefore runs
through the same contract a ``format("kafka")`` deployment would use —
swap ``SourceConfig.transport`` and nothing downstream changes.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from flume_hive_batch_sink_spark.io import scratch_dir
from flume_hive_batch_sink_spark.partitioning import (
    input_scaled_partitions,
    scoped_conf,
)
from flume_hive_batch_sink_spark.streaming import source


def events_stream_partitions(sf_dir: str) -> int:
    """State/shuffle partition count for a replay of the events fixture,
    derived from the fixture's bytes (the ~32 MB/partition rule bench.py
    uses), so a real deployment scales up with the data instead of
    inheriting a local constant."""
    return input_scaled_partitions(os.path.join(sf_dir, "events.parquet"))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (single batch under
    availableNow). Routed through the transport seam (source.py): the
    same call sites serve Kafka by swapping SourceConfig.transport."""
    return source.open_events_stream(
        spark, source.SourceConfig(transport="file", sf_dir=sf_dir)
    )


def replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    late_chunk: bool = False,
    sentinel_offsets_min: tuple = (),
) -> DataFrame:
    """Split events into ts-ordered chunk files replayed one per batch.

    With ``late_chunk=True`` the FIRST chunk (oldest events) is replayed
    LAST — after newer chunks have advanced the watermark — so its rows
    arrive late. Each of ``sentinel_offsets_min`` (minutes past the
    fixture's max ts) adds one more micro-batch after all data chunks,
    carrying exactly one ``user_id = -1`` event: the drain barrier for
    TTL-evicting stateful operators (state_ttl.py). File order is pinned
    via mtime (the file source lists by modification time) and
    ``maxFilesPerTrigger=1``. Routed through the transport seam
    (source.py) like events_stream.
    """
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
    output to the driver, which is what a 10M-event replay needs.

    ``name`` is a prefix: the memory sink's table gets a unique suffix,
    so repeated runs never collide. ``state_partitions``, when given,
    pins ``spark.sql.shuffle.partitions`` for the run — that is what
    sizes a NEW streaming query's state-store operators (the count is
    recorded in the checkpoint on the first batch), and each state
    partition costs a per-micro-batch task + state-store commit. Safe
    to scope because the run completes inside the scope and owns a
    fresh checkpoint."""
    name = f"{name}_{uuid.uuid4().hex[:8]}"
    w = (
        stream_df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir(f"chk_{name}_"))
        .trigger(availableNow=True)
    )
    if fmt == "memory":
        w = w.queryName(name)
    confs = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    with scoped_conf(spark, confs):
        q = w.start()
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    result = spark.table(name) if fmt == "memory" else None
    return result, progress
