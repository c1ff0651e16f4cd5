"""The reference replacement: Structured Streaming → Hive-partitioned table.

`sogou/flume-hive-batch-sink` drains channel batches into time-partition
directories, rolls files, registers partitions, and writes done-flags
[SURVEY.md §0.1, reconstructed]. Here each micro-batch epoch plays the
channel transaction: ``foreachBatch`` writes the epoch partitioned by
(dt, hr) with **dynamic partition overwrite keyed by epoch id**, so a
replayed epoch (the analogue of Flume's rollback→redeliver) overwrites
its own previous output instead of duplicating — checkpoint WAL +
idempotent epoch writes = exactly-once table state (SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flume_hive_batch_sink_spark.io import scratch_dir
from flume_hive_batch_sink_spark.operators.ingest import (
    hive_partitioned_write_path,
    with_partition_keys,
    write_done_markers,
)


def write_epoch(
    epoch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Idempotent epoch write: partition layout epoch=/dt=/hr=, through
    the engine's one Hive-partitioned writer. Its dynamic overwrite
    means a retried epoch replaces exactly the partitions it wrote
    before, and maxRecordsPerFile is the roll policy. An epoch is
    repartitioned by (epoch, dt, hr), so one task writes each Hive
    partition (the `maxOpenFiles` analogue) — unless it is one split
    under AQE's minimum partition size (one staged file of a typical
    epoch), which a single task writes as one file per leaf without
    that shuffle."""
    hive_partitioned_write_path(
        with_partition_keys(epoch_df).withColumn("epoch", F.lit(epoch_id)),
        out_dir,
        partition_cols=("epoch", "dt", "hr"),
        max_records_per_file=max_records_per_file,
    )


def start_hive_sink(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """writeStream.foreachBatch(hive-partitioned write), availableNow."""
    chk = checkpoint_dir or scratch_dir("chk_hive_sink_")
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, eid: write_epoch(df, eid, out_dir)
        )
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )


def read_sink_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Re-read the sink output as the logical table (epoch is an
    implementation detail of idempotency, not part of the table)."""
    return spark.read.parquet(out_dir).drop("epoch")


def finalize_partitions(spark: SparkSession, out_dir: str) -> list[str]:
    """Post-commit protocol: done-markers per completed partition (the
    reference's metastore-registration + done-flag step)."""
    return write_done_markers(spark, out_dir)


__all__ = [
    "write_epoch",
    "start_hive_sink",
    "read_sink_table",
    "finalize_partitions",
]
