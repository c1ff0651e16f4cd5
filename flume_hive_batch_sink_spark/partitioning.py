"""Partitioning helpers for fan-out-heavy and CPU-heavy operators.

AQE's partition coalescing sizes post-shuffle partitions by the shuffle's
INPUT bytes. For the candidate-generation joins in the dedup/similarity
family that heuristic is blind: the exchange carries a few MB of slim
(id, key) rows, but the join downstream fans each bucket out to w² pair
slots — so AQE coalesces a CPU-dense stage down to one or two tasks and
the operator loses the cluster. (Measured on llm_near_dedup_minhash at
sf0.1: 49.2 s with AQE coalescing vs 10.3 s without, identical work.)

The fix is to mark those exchanges user-specified — ``repartition(n,
cols)`` is never coalesced by AQE — with ``n`` taken from the session's
``spark.sql.shuffle.partitions``, the same scale knob every other
shuffle in the job follows (bench.py derives it from input volume;
a cluster deployment sets it with the data size). Nothing here is a
local[32] constant.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from flume_hive_batch_sink_spark.io import data_files


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's shuffle partition count (falls back to the
    scheduler's default parallelism when unparseable, e.g. ``auto``)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of a ``with`` block and
    restore the previous values on exit. A key the session had not set
    is unset again: ``spark.conf.get`` would return its default, and
    setting that back would leave the key set. Only safe around work
    that COMPLETES inside the block (e.g. a streaming query run to
    termination); a lazy DataFrame returned out of the block executes
    under whatever the session conf is at action time."""
    set_now = spark.conf.getAll
    prior = {k: set_now.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in prior.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def fits_one_task(df: DataFrame) -> bool:
    """Whether ``df`` is one split smaller than AQE's minimum coalesced
    partition size (``spark.sql.adaptive.coalescePartitions.minPartitionSize``,
    1 MB by default). A keyed shuffle of such an input lands in one
    reducer task anyway, so it adds a stage and buys no parallelism.
    The size is the optimizer's estimate (file bytes for a scan); the
    split count comes from the planned RDD. Planning only, no job; but
    planning an input that already holds an exchange runs that
    exchange's stage under AQE, so meant for scans and narrow maps over
    them."""
    spark = df.sparkSession
    min_part = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est < min_part and df.rdd.getNumPartitions() == 1


def spread_to_cores(df: DataFrame) -> DataFrame:
    """``df`` round-robined up to the scheduler's default parallelism
    when it has fewer partitions than that, else ``df`` unchanged.

    For CPU-heavy per-row stages (MinHash/SimHash signatures) over a
    small input: a 1 MB corpus is one scan split — ``openCostInBytes``
    sets the minimum split size, so its row groups do not help — and
    the whole signature stage would run as one task on one core. The
    shuffle moves the raw rows once; at corpus scale the input already
    has more splits than cores and no Exchange is added. Meant for scans:
    the count comes from the planned RDD, and planning an input that
    already holds an exchange runs that exchange's stage under AQE."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def input_scaled_partitions(path_or_bytes: str | int) -> int:
    """Shuffle/state partition count derived from input volume: ~32 MB
    per partition, floor 8, cap 2048 — the one sizing rule (bench.py
    sizes its headline session with it), so partition counts scale with
    the data instead of being a local-core-count constant. Accepts a
    byte count, or a path whose ``io.data_files`` are summed."""
    n_bytes = path_or_bytes
    if not isinstance(n_bytes, int):
        n_bytes = sum(size for _p, size in data_files(n_bytes))
    return max(8, min(2048, int(n_bytes / (32 << 20))))
