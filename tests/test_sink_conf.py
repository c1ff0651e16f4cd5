"""The Hive sink must not leak session conf: dynamic partition
overwrite is a per-write option, so a drain leaves the caller's
``spark.sql.sources.partitionOverwriteMode`` as it found it — and the
epoch writes still overwrite only their own partitions."""

from __future__ import annotations

import os

from oracle import DEFAULT_SF_DIR

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.streaming import sink, source

CONF = "spark.sql.sources.partitionOverwriteMode"


def test_hive_sink_drain_leaves_overwrite_mode_unchanged(spark, tmp_path):
    """A full start_hive_sink drain. foreachBatch hands each epoch a
    DataFrame bound to the stream's own cloned session, so this holds
    even for a sink that sets session conf per epoch; the direct
    write_epoch test below is the one such a sink fails."""
    staged = str(tmp_path / "src")
    load(spark, DEFAULT_SF_DIR, "events").limit(500).write.parquet(staged)
    prior = spark.conf.get(CONF)
    spark.conf.set(CONF, "STATIC")
    try:
        out = str(tmp_path / "tbl")
        q = sink.start_hive_sink(
            spark.readStream.schema(source.EVENTS_SCHEMA).parquet(staged),
            out,
            checkpoint_dir=str(tmp_path / "chk"),
        )
        q.awaitTermination()
        assert spark.conf.get(CONF) == "STATIC"
        assert sink.read_sink_table(spark, out).count() == 500
    finally:
        spark.conf.set(CONF, prior)


def test_epoch_write_overwrites_dynamically_under_static_session(
    spark, tmp_path
):
    """Under a STATIC session, an overwrite write would wipe the whole
    table; the writer option keeps epoch 0's partitions when epoch 1
    lands, and a replayed epoch 1 still replaces only its own rows."""
    prior = spark.conf.get(CONF)
    spark.conf.set(CONF, "STATIC")
    try:
        ev = load(spark, DEFAULT_SF_DIR, "events").limit(200)
        out = os.path.join(str(tmp_path), "tbl")
        sink.write_epoch(ev, 0, out)
        sink.write_epoch(ev, 1, out)
        sink.write_epoch(ev, 1, out)  # redelivery of epoch 1
        assert spark.read.parquet(out).count() == 400
        assert spark.conf.get(CONF) == "STATIC"
    finally:
        spark.conf.set(CONF, prior)
