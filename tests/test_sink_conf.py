"""The Hive sink must not leak session conf: dynamic partition
overwrite is a per-write option, so a drain leaves the caller's
``spark.sql.sources.partitionOverwriteMode`` as it found it — and the
epoch writes still overwrite only their own partitions. Also pins the
landed layout (one file per epoch=/dt=/hr= leaf, one marker per leaf)
on both write paths (small one-split epochs unshuffled, the rest
keyed), finalize's behaviour on URI-addressed tables, and the checkpoint
file manager the session's streams commit through."""

from __future__ import annotations

import os
import re

import pytest
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


def _parquet_leaves(out: str) -> dict[str, int]:
    """Leaf directory → parquet file count, by an independent walk that
    skips the ``_``/``.``-prefixed directories Spark's reader skips."""
    leaves: dict[str, int] = {}
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            leaves[root] = n
    return leaves


def test_epoch_layout_one_file_per_leaf_and_marker(spark, tmp_path):
    """Two epochs land as epoch=/dt=/hr= leaves holding exactly one
    parquet file each (one task writes each leaf, whether or not the
    writer repartitioned the epoch), and finalize writes one _DONE
    marker per leaf — the layout perfbench's landed.files and
    landed.leaf_partitions read. Staging leftovers of a killed write are
    not partitions of the table and get no marker."""
    from flume_hive_batch_sink_spark.operators.ingest import (
        with_partition_keys,
    )

    ev = load(spark, DEFAULT_SF_DIR, "events").limit(400)
    epochs = [ev.filter(ev.event_id % 2 == i) for i in (0, 1)]
    out = str(tmp_path / "tbl")
    for i, df in enumerate(epochs):
        sink.write_epoch(df, i, out)
    for staging in (".spark-staging-0", "_temporary"):
        d = os.path.join(out, staging, "epoch=9", "dt=20000101", "hr=0")
        os.makedirs(d)
        open(os.path.join(d, "part-00000.parquet"), "w").close()
    markers = sink.finalize_partitions(spark, out)

    leaves = _parquet_leaves(out)
    expected = {
        os.path.join(out, f"epoch={i}", f"dt={r.dt}", f"hr={r.hr}")
        for i, df in enumerate(epochs)
        for r in with_partition_keys(df).select("dt", "hr").distinct().collect()
    }
    assert set(leaves) == expected
    assert set(leaves.values()) == {1}
    assert markers == sorted(os.path.join(d, "_DONE") for d in leaves)
    assert all(os.path.isfile(m) for m in markers)


def test_epoch_finalize_on_file_uri_matches_plain_path(spark, tmp_path):
    """A table addressed as a file: URI finalizes exactly like its plain
    path; a scheme the driver cannot list locally raises instead of
    silently returning no markers."""
    ev = load(spark, DEFAULT_SF_DIR, "events").limit(200)
    out = tmp_path / "tbl"
    sink.write_epoch(ev, 0, out.as_uri())
    via_uri = sink.finalize_partitions(spark, out.as_uri())
    assert via_uri, "file: URI table finalized with no markers"
    assert via_uri == sink.finalize_partitions(spark, str(out))
    assert len(via_uri) == len(_parquet_leaves(str(out)))
    for uri in ("viewfs://lake/tbl", "hdfs://nn:8020/tbl"):
        with pytest.raises(ValueError, match="ROADMAP item 1"):
            sink.finalize_partitions(spark, uri)


def _write_plan(spark, write) -> str:
    """The executed plan of the one parquet insert ``write()`` runs,
    from the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsCount()
    write()
    execs = store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(n0, execs.size())
    ]
    inserts = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(inserts) == 1, plans
    return inserts[0]


@pytest.mark.parametrize(
    ("n_splits", "min_partition_size", "shuffled"),
    [(1, None, False), (2, None, True), (1, "1k", True)],
    ids=["one_small_split", "two_splits", "one_split_over_min_partition"],
)
def test_epoch_write_shuffles_unless_one_small_split(
    spark, tmp_path, n_splits, min_partition_size, shuffled
):
    """A one-split epoch (one staged file) under AQE's minimum partition
    size goes to the writer with no Exchange. An epoch of two files, or
    one split above that size, keeps the keyed repartition on
    (epoch, dt, hr). All land exactly one parquet file per leaf."""
    from flume_hive_batch_sink_spark.operators.ingest import (
        with_partition_keys,
    )
    from flume_hive_batch_sink_spark.partitioning import scoped_conf

    staged = str(tmp_path / "src")
    ev = load(spark, DEFAULT_SF_DIR, "events").limit(400)
    ev.repartition(n_splits).write.parquet(staged)
    epoch = spark.read.schema(source.EVENTS_SCHEMA).parquet(staged)
    assert epoch.rdd.getNumPartitions() == n_splits

    out = str(tmp_path / "tbl")
    confs = {}
    if min_partition_size:
        confs["spark.sql.adaptive.coalescePartitions.minPartitionSize"] = (
            min_partition_size
        )
    with scoped_conf(spark, confs):
        p = _write_plan(spark, lambda: sink.write_epoch(epoch, 7, out))
    if shuffled:
        assert re.search(r"hashpartitioning\(7, dt#\d+, hr#\d+L?,", p), p
    else:
        assert "Exchange" not in p

    leaves = _parquet_leaves(out)
    expected = {
        os.path.join(out, "epoch=7", f"dt={r.dt}", f"hr={r.hr}")
        for r in with_partition_keys(epoch).select("dt", "hr").distinct().collect()
    }
    assert set(leaves) == expected
    assert set(leaves.values()) == {1}
    assert sink.read_sink_table(spark, out).count() == 400


def test_scoped_conf_unsets_keys_the_session_had_not_set(spark):
    """scoped_conf leaves the session's set confs exactly as it found
    them: a key that was not set before the block is unset after it,
    not pinned to its default value."""
    from flume_hive_batch_sink_spark.partitioning import scoped_conf

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.unset(key)
    before = spark.conf.getAll
    with scoped_conf(spark, {key: "2MB", "spark.sql.shuffle.partitions": "3"}):
        assert spark.conf.get(key) == "2MB"
    assert spark.conf.getAll == before


def test_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    """get_spark's streams commit their logs through the FileSystem
    checkpoint manager, not the slower FileContext default."""
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    created = mgr.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "chk")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert created.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )


def test_hive_sink_restart_on_finished_checkpoint_lands_nothing(
    spark, tmp_path
):
    """A second start_hive_sink on a drained checkpoint finds every
    offset committed: it lands no new epoch and the table keeps its row
    count — the checkpoint logs written through the session's manager
    are read back on restart."""
    staged = str(tmp_path / "src")
    ev = load(spark, DEFAULT_SF_DIR, "events").limit(300)
    for i in range(3):
        ev.filter(ev.event_id % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(staged)
    out, chk = str(tmp_path / "tbl"), str(tmp_path / "chk")

    def drain() -> None:
        stream = (
            spark.readStream.schema(source.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        sink.start_hive_sink(stream, out, checkpoint_dir=chk).awaitTermination()

    drain()
    epochs = sorted(os.listdir(out))
    assert epochs == ["epoch=0", "epoch=1", "epoch=2"]
    assert sink.read_sink_table(spark, out).count() == 300
    drain()
    assert sorted(os.listdir(out)) == epochs
    assert sink.read_sink_table(spark, out).count() == 300
