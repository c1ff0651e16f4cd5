"""Behavioral checks for the pure-streaming semantics the batch oracle
can't hash-verify: late-data dropping under watermark, and idempotent
epoch writes in the hive sink (the at-least-once → exactly-once story)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from flume_hive_batch_sink_spark.io import load
from flume_hive_batch_sink_spark.partitioning import scoped_conf
from flume_hive_batch_sink_spark.streaming import harness, sink, source

import pytest

# Slow tier (round-16): real structured-streaming end-to-end replays (~5 min). Deselected by the default run
# (pytest.ini addopts); the committed round gate runs -m "".
pytestmark = pytest.mark.slow

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
ROCKSDB = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
}


def test_watermark_drops_late_windows(spark):
    """Replaying the oldest chunk last (after the watermark advanced past
    it) must suppress its windows from append-mode output."""
    from flume_hive_batch_sink_spark.streaming.queries import stream_watermark

    emitted = stream_watermark(spark, SF_DIR)
    n_emitted = emitted.count()
    n_total_windows = (
        load(spark, SF_DIR, "events")
        .select(F.date_trunc("hour", "ts").alias("w"))
        .distinct()
        .count()
    )
    assert 0 < n_emitted < n_total_windows, (
        f"expected late windows dropped: emitted {n_emitted} of "
        f"{n_total_windows} hourly windows"
    )


def test_hive_sink_epoch_write_idempotent(spark):
    """Re-running an epoch (Flume rollback→redeliver analogue) must not
    duplicate rows: dynamic overwrite keyed by epoch id."""
    ev = load(spark, SF_DIR, "events").limit(500)
    out = os.path.join(tempfile.mkdtemp(prefix="idem_"), "tbl")
    sink.write_epoch(ev, 0, out)
    first = sink.read_sink_table(spark, out).count()
    sink.write_epoch(ev, 0, out)  # redelivery of the same epoch
    second = sink.read_sink_table(spark, out).count()
    assert first == second == 500


def test_hive_sink_end_to_end_matches_batch(spark):
    """Streaming sink table state == direct batch partitioned write."""
    out = os.path.join(tempfile.mkdtemp(prefix="sink_e2e_"), "tbl")
    s = harness.events_stream(spark, SF_DIR)
    q = sink.start_hive_sink(s, out)
    q.awaitTermination()
    markers = sink.finalize_partitions(spark, out)
    assert markers, "expected _DONE markers after finalize"
    streamed = sink.read_sink_table(spark, out).count()
    direct = load(spark, SF_DIR, "events").count()
    assert streamed == direct


def test_hive_sink_recovers_from_partial_epoch(spark):
    """Crash recovery: an epoch that wrote part of its output but never
    reached the checkpoint commit (process died mid-epoch) must be
    cleanly replaced on restart. Protocol under test: the file source's
    batch ids restart from the last COMMITTED batch, so the replayed
    micro-batch reuses the crashed epoch's id, and the epoch-keyed
    dynamic overwrite replaces the partial output — at-least-once
    replay, exactly-once table state."""
    import pandas as pd

    ev = load(spark, SF_DIR, "events")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    quarters = [
        pdf.iloc[i * len(pdf) // 4 : (i + 1) * len(pdf) // 4]
        for i in range(4)
    ]

    base = tempfile.mkdtemp(prefix="sink_recovery_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "tbl")
    chk = os.path.join(base, "chk")
    os.makedirs(src)

    def stage(i: int) -> None:
        quarters[i].to_parquet(
            os.path.join(src, f"chunk_{i:03d}.parquet"), index=False
        )

    def run_sink() -> None:
        s = (
            spark.readStream.schema(source.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            s.writeStream.foreachBatch(
                lambda df, eid: sink.write_epoch(df, eid, out)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # epoch 0 and 1 commit cleanly
    stage(0)
    stage(1)
    run_sink()
    committed = sink.read_sink_table(spark, out).count()
    assert committed == len(quarters[0]) + len(quarters[1])

    # the process "crashes" mid-epoch 2: half its rows hit the table,
    # but the checkpoint never records the batch as committed
    partial = spark.createDataFrame(quarters[2].iloc[: len(quarters[2]) // 2])
    sink.write_epoch(partial, 2, out)

    # restart from the same checkpoint with the remaining input staged
    stage(2)
    stage(3)
    run_sink()

    table = sink.read_sink_table(spark, out)
    assert table.count() == len(pdf), "row count after recovery"
    assert table.select("event_id").distinct().count() == len(pdf), (
        "no duplicated events after epoch replay"
    )


def test_text_ingest_hive_crash_recovery(spark):
    """Kill the TEXT-ingest stream mid-epoch and restart from the same
    checkpoint: the finalized table must equal the uninterrupted run.
    Same crash protocol as test_hive_sink_recovers_from_partial_epoch
    (partial epoch written, never checkpoint-committed), but through
    stream_text_ingest_hive's full wire path — TSV serialization,
    schema'd csv file stream with µs timestampFormat, epoch-keyed
    overwrite, done-marker finalize."""
    sf_dir = "/root/testdata/sf0.001"
    ev = load(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="text_recovery_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "tbl")
    chk = os.path.join(base, "chk")
    os.makedirs(src)

    # stage all 4 wire chunks executor-side through the engine's stager
    import shutil
    import time

    wire = source.encode_text_wire(ev, F.pmod("event_id", F.lit(4)))
    hold, n_files = source.stage_in_order(
        wire.repartition("chunk"), range(4), "csv", **source.TEXT_WIRE_OPTIONS
    )
    assert n_files == 4
    chunk_files = sorted(os.path.join(hold, f) for f in os.listdir(hold))

    now = time.time()

    def stage(i: int) -> None:
        dst = os.path.join(src, os.path.basename(chunk_files[i]))
        shutil.copy(chunk_files[i], dst)
        os.utime(dst, (now + i, now + i))

    def run_sink() -> None:
        s = source.read_text_wire(
            spark.readStream.option("maxFilesPerTrigger", 1), src
        )
        q = (
            s.writeStream.foreachBatch(
                lambda df, eid: sink.write_epoch(df, eid, out)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(0)
    stage(1)
    run_sink()

    # crash mid-epoch 2: half the chunk's rows land, no checkpoint commit
    chunk2 = source.read_text_wire(spark.read, chunk_files[2])
    partial = chunk2.limit(chunk2.count() // 2)
    sink.write_epoch(partial, 2, out)

    stage(2)
    stage(3)
    run_sink()
    markers = sink.finalize_partitions(spark, out)
    assert markers, "expected _DONE markers after finalize"

    table = sink.read_sink_table(spark, out)
    total = ev.count()
    assert table.count() == total, "row count after recovery"
    assert table.select("event_id").distinct().count() == total
    # per-partition profile equals the batch source of truth
    got = {
        (r["dt"], r["hr"]): r["n"]
        for r in table.groupBy("dt", "hr").agg(F.count("*").alias("n")).collect()
    }
    want = {
        (r["dt"], r["hr"]): r["n"]
        for r in ev.select(
            F.date_format("ts", "yyyyMMdd").alias("dt"),
            F.hour("ts").alias("hr"),
        )
        .groupBy("dt", "hr")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {(str(k[0]), int(k[1])): v for k, v in got.items()} == {
        (str(k[0]), int(k[1])): v for k, v in want.items()
    }
    shutil.rmtree(base, ignore_errors=True)


RUNNER = r'''
import sys

from pyspark.sql import SparkSession

src, out, chk, cpus = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
spark = (
    SparkSession.builder.master(f"local[{cpus}]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    .getOrCreate()
)
sys.path.insert(0, "/root/repo")
from flume_hive_batch_sink_spark.streaming import sink

schema = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE"
)
s = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
    .dropDuplicates(["event_id"])
)
q = (
    s.writeStream.foreachBatch(lambda df, eid: sink.write_epoch(df, eid, out))
    .option("checkpointLocation", chk)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
print("SOAK_DONE", flush=True)
'''


def test_rocksdb_soak_kill9_recovery(spark):
    """50-micro-batch soak on the RocksDB state store with a kill -9
    mid-run: a SEPARATE driver process streams 50 one-file micro-batches
    through a STATEFUL dropDuplicates (each chunk re-ships ~25 rows of
    the previous chunk, so the dedup state is load-bearing ACROSS
    batches and across the crash) into the epoch-keyed hive sink. The
    process is SIGKILLed once ≥12 epochs have landed — no shutdown
    hooks, the hard-crash case — then restarted on the same checkpoint.
    End state must equal the batch twin exactly: every event once,
    nothing lost, nothing doubled. Also asserts RocksDB actually held
    the state (zip snapshots in the checkpoint's state dir), so the
    conf can never silently fall back to the HDFS provider."""
    import glob
    import shutil
    import signal
    import subprocess
    import sys
    import time

    sf_dir = "/root/testdata/sf0.001"
    ev = load(spark, sf_dir, "events")
    pdf = (
        ev.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .toPandas()
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    base = tempfile.mkdtemp(prefix="rocksdb_soak_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "tbl")
    chk = os.path.join(base, "chk")
    runner = os.path.join(base, "runner.py")
    os.makedirs(src)
    with open(runner, "w") as f:
        f.write(RUNNER)

    n_batches = 50
    chunks = [
        pdf.iloc[i * len(pdf) // n_batches : (i + 1) * len(pdf) // n_batches]
        for i in range(n_batches)
    ]
    now = time.time()
    import pandas as pd

    for i, chunk in enumerate(chunks):
        dup_tail = chunks[i - 1].tail(25) if i else chunk.iloc[0:0]
        staged = pd.concat([dup_tail, chunk])
        p = os.path.join(src, f"chunk_{i:03d}.parquet")
        staged.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    cmd = [sys.executable, runner, src, out, chk, "4"]

    def n_epochs() -> int:
        return len(glob.glob(os.path.join(out, "epoch=*")))

    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, cwd="/root/repo"
    )
    deadline = time.time() + 300
    while time.time() < deadline and n_epochs() < 12:
        if proc.poll() is not None:
            break
        time.sleep(0.25)
    assert proc.poll() is None, "soak run finished before the kill point"
    assert n_epochs() >= 12
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()

    done = subprocess.run(
        cmd, capture_output=True, text=True, cwd="/root/repo", timeout=600
    )
    assert "SOAK_DONE" in done.stdout, done.stdout[-2000:]
    assert n_epochs() >= n_batches - 12, "restart must drain every staged file"

    # RocksDB provider really held the state: zip snapshots on disk
    zips = glob.glob(os.path.join(chk, "state", "**", "*.zip"), recursive=True)
    assert zips, "no RocksDB snapshots found — provider conf not applied"

    table = sink.read_sink_table(spark, out)
    assert table.count() == len(pdf), "exactly-once: every event exactly once"
    assert table.select("event_id").distinct().count() == len(pdf)
    got = table.agg(
        F.sum("event_id").alias("s"), F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    ).collect()[0]
    assert (int(got["s"]), got["lo"], got["hi"]) == (
        int(pdf["event_id"].sum()), pdf["event_id"].min(), pdf["event_id"].max()
    )
    shutil.rmtree(base, ignore_errors=True)


def test_watermark_eviction_bounds_state_rocksdb(spark):
    """Round-12 state-scale regression gate: on a ts-ordered chunked
    replay with the RocksDB provider, dropDuplicatesWithinWatermark's
    state must be EVICTED as the watermark advances — numRowsRemoved > 0
    across batches and the final state a small fraction of the input —
    and the windowed aggregate must likewise close windows behind the
    watermark. Pins the property the sf10 rehearsal measures
    (scripts/stream_scale.py): without eviction, dedup state is
    O(corpus) and the 100 TB posture collapses."""
    from flume_hive_batch_sink_spark.streaming import queries

    with scoped_conf(spark, ROCKSDB):
        s = harness.replay_chunks(spark, SF_DIR, n_chunks=4)
        _, progress = harness.run_with_progress(
            queries.dedup_within_watermark(s), "evict_gate_dedup", "append",
            spark, fmt="noop",
        )
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        n_in = sum(p.get("numInputRows") or 0 for p in progress)
        removed = sum(op.get("numRowsRemoved") or 0 for op in ops)
        final_rows = ops[-1]["numRowsTotal"]
        assert removed > 0, "watermark advanced but no dedup state evicted"
        assert final_rows < 0.05 * n_in, (
            f"dedup state not bounded: {final_rows} rows retained of {n_in}"
        )

        s = harness.replay_chunks(spark, SF_DIR, n_chunks=4)
        _, progress = harness.run_with_progress(
            queries.hourly_window_counts(s), "evict_gate_window", "append",
            spark, fmt="noop",
        )
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        removed = sum(op.get("numRowsRemoved") or 0 for op in ops)
        final_rows = ops[-1]["numRowsTotal"]
        assert removed > 0, "no closed windows evicted from agg state"
        # open state = windows within the 10-min horizon of max ts (~1)
        assert final_rows <= 4, f"window state not closing: {final_rows} open"


def test_ttl_update_clamps_timeout_above_watermark():
    """Round-14 ADVICE: a batch delivered wholly BEHIND the watermark
    (late_chunk replay) used to make setTimeoutTimestamp throw —
    last_ms + ttl can sit at or under the current watermark, which
    Spark rejects. The update fn must clamp to watermark + 1 on the
    late path and keep the data-driven timeout on the happy path."""
    import pandas as pd

    from flume_hive_batch_sink_spark.streaming.state_ttl import _make_update

    class FakeState:
        hasTimedOut = False
        exists = False

        def __init__(self, wm):
            self._wm = wm
            self.timeout = None

        @property
        def get(self):
            return (0, 0)

        def update(self, v):
            self.val = v

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return self._wm

    upd = _make_update(ttl_ms=60_000)
    late = FakeState(wm=10_000_000)
    list(upd((1,), [pd.DataFrame({"ts_ms": [5_000]})], late))
    assert late.timeout == 10_000_001, "late batch must clamp above wm"
    fresh = FakeState(wm=1_000)
    list(upd((1,), [pd.DataFrame({"ts_ms": [5_000]})], fresh))
    assert fresh.timeout == 65_000, "happy path keeps last_ms + ttl"


def test_custom_state_ttl_evicts_and_conserves_counts(spark):
    """stream_custom_state_ttl's eviction evidence — what the SQL oracle
    cannot see. On the sentinel-closed chunked replay with the RocksDB
    provider: (a) state rows are REMOVED as the watermark passes idle
    users' TTL (evicted > 0), (b) the stream ends with every real user
    drained (final state = the lone sentinel key), so state is bounded
    by the active-key horizon, never |users|, and (c) the per-user sum
    of emitted session counts equals the batch aggregate — TTL eviction
    loses nothing and double-counts nothing."""
    from flume_hive_batch_sink_spark.streaming import state_ttl

    with scoped_conf(spark, ROCKSDB):
        src = harness.replay_chunks(
            spark, SF_DIR, n_chunks=4, sentinel_offsets_min=(120, 240)
        )
        out = state_ttl.ttl_counters_stream(spark, src)
        emitted, progress = harness.run_with_progress(
            out, "ttl_gate", "update", spark
        )
        ops = [
            p["stateOperators"][0] for p in progress if p.get("stateOperators")
        ]
        removed = sum(op.get("numRowsRemoved") or 0 for op in ops)
        final_rows = ops[-1]["numRowsTotal"]
        n_users = load(spark, SF_DIR, "events").select("user_id").distinct().count()
        assert removed > 0, "TTL set but no state evicted"
        # everything drains except the sentinel user's own counter
        assert final_rows <= 1, f"{final_rows} state rows survived the drain"
        assert removed >= n_users, (
            f"every real user must evict at least once: {removed} < {n_users}"
        )

        got = (
            emitted.filter(F.col("user_id") >= 0)
            .groupBy("user_id")
            .agg(F.sum("n_events").alias("n"))
        )
        want = (
            load(spark, SF_DIR, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
        )
        mismatch = (
            got.withColumnRenamed("n", "got_n")
            .join(want.withColumnRenamed("n", "want_n"), "user_id", "full")
            .filter(
                F.col("got_n").isNull()
                | F.col("want_n").isNull()
                | (F.col("got_n") != F.col("want_n"))
            )
            .count()
        )
        assert mismatch == 0, f"{mismatch} users with lost/dup counts"


def test_custom_state_ttl_late_chunk_replay_end_to_end(spark):
    """Round-15 (VERDICT r14 watch item 3): the round-14 watermark clamp
    was pinned only with a FakeState — this runs the REAL
    applyInPandasWithState operator under the adversarial schedule it
    was written for: late_chunk replay delivers the OLDEST chunk after
    three newer chunks have advanced the watermark past its entire time
    range. What the real engine does (and this pins): rows older than
    the watermark are DROPPED by the operator's pre-filter before the
    update fn ever sees them (numRowsDroppedByWatermark) — that is the
    watermark contract, not a bug — so the conservation invariant holds
    in its accounting form: per user, Σ evicted session counts equals
    the user's ADMITTED rows (chunks replayed before the watermark
    passed them + any late rows still inside the 10-min delay), and the
    dropped count equals exactly the late chunk's behind-watermark
    rows. The query must complete with no setTimeoutTimestamp throw
    (kept rows always satisfy ts ≥ wm, so the clamp stays a defensive
    invariant rather than a hot path). The batch twin below replays the
    same ntile chunking + watermark arithmetic to compute the admitted
    set exactly."""
    from pyspark.sql.window import Window

    from flume_hive_batch_sink_spark.streaming import state_ttl

    src = harness.replay_chunks(
        spark,
        SF_DIR,
        n_chunks=4,
        sentinel_offsets_min=(120, 240),
        late_chunk=True,
    )
    out = state_ttl.ttl_counters_stream(spark, src)
    emitted, progress = harness.run_with_progress(
        out, "ttl_late_gate", "update", spark
    )
    ops = [
        p["stateOperators"][0] for p in progress if p.get("stateOperators")
    ]
    dropped_wm = sum(op.get("numRowsDroppedByWatermark") or 0 for op in ops)

    # batch twin of the replay: chunk 1 (oldest quartile) arrives after
    # chunks 2-4, when the watermark is max(ts of chunks 2-4) − 10 min;
    # a chunk-1 row is admitted iff its event time is ≥ that watermark
    ev = load(spark, SF_DIR, "events")
    chunked = ev.withColumn(
        "chunk", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    ).cache()
    wm_ms = (
        chunked.filter(F.col("chunk") != 1)
        .agg((F.max(F.unix_millis("ts")) - 600_000).alias("w"))
        .collect()[0]["w"]
    )
    admitted = chunked.filter(
        (F.col("chunk") != 1) | (F.unix_millis("ts") >= wm_ms)
    )
    n_late_dropped = chunked.count() - admitted.count()
    assert n_late_dropped > 0, "fixture must actually produce late rows"
    assert dropped_wm == n_late_dropped, (
        f"engine dropped {dropped_wm}, twin computed {n_late_dropped}"
    )

    got = (
        emitted.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n"))
    )
    want = admitted.groupBy("user_id").agg(F.count("*").alias("n"))
    mismatch = (
        got.withColumnRenamed("n", "got_n")
        .join(want.withColumnRenamed("n", "want_n"), "user_id", "full")
        .filter(
            F.col("got_n").isNull()
            | F.col("want_n").isNull()
            | (F.col("got_n") != F.col("want_n"))
        )
        .count()
    )
    chunked.unpersist()
    assert mismatch == 0, (
        f"{mismatch} users lost/dup counts over the ADMITTED rows"
    )


RUNNER_KILL_MIDEPOCH = r'''
import os
import signal
import sys

from pyspark.sql import SparkSession

src, out, chk = sys.argv[1], sys.argv[2], sys.argv[3]
kill_epoch, log, flag = int(sys.argv[4]), sys.argv[5], sys.argv[6]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sys.path.insert(0, "/root/repo")
from flume_hive_batch_sink_spark.streaming import sink

schema = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE"
)


def fb(df, eid):
    sink.write_epoch(df, eid, out)
    # the epoch's table output is fully on disk; the checkpoint commit
    # for this batch has NOT happened (it follows foreachBatch's return)
    with open(log, "a") as f:
        f.write(f"{eid}\n")
        f.flush()
        os.fsync(f.fileno())
    if eid == kill_epoch and not os.path.exists(flag):
        open(flag, "w").close()
        os.kill(os.getpid(), signal.SIGKILL)  # die between write and commit


s = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1)
    .parquet(src)
)
q = (
    s.writeStream.foreachBatch(fb)
    .option("checkpointLocation", chk)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
sink.finalize_partitions(spark, out)
print("SINK_DONE", flush=True)
'''


def test_hive_sink_kill9_between_write_and_commit(spark):
    """THE exactly-once crash test (round-13, the round-12 verdict's top
    task): SIGKILL the streaming driver DETERMINISTICALLY between the
    foreachBatch table write and the checkpoint commit — the one window
    where at-least-once delivery actually produces a duplicate epoch —
    then restart on the same checkpoint and require (a) PROOF the epoch
    re-ran (the foreachBatch invocation log shows the kill epoch twice)
    and (b) the final table is identical to an uninterrupted run's,
    byte-for-byte at the logical level (same (epoch, dt, hr, row) set:
    the duplicate epoch was absorbed by the epoch-keyed dynamic
    overwrite, not appended). This closes the gap the clean-run and
    async-kill tests left: here the crashed epoch's output is FULLY on
    disk when the process dies, so the replay MUST overwrite, not skip
    and not double."""
    import glob
    import shutil
    import subprocess
    import sys
    import time

    sf_dir = "/root/testdata/sf0.001"
    ev = load(spark, sf_dir, "events")
    pdf = (
        ev.select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
        .toPandas()
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")

    base = tempfile.mkdtemp(prefix="kill_midepoch_")
    src = os.path.join(base, "src")
    runner = os.path.join(base, "runner.py")
    os.makedirs(src)
    with open(runner, "w") as f:
        f.write(RUNNER_KILL_MIDEPOCH)

    n_batches, kill_epoch = 8, 4
    now = time.time()
    for i in range(n_batches):
        chunk = pdf.iloc[
            i * len(pdf) // n_batches : (i + 1) * len(pdf) // n_batches
        ]
        p = os.path.join(src, f"chunk_{i:03d}.parquet")
        chunk.to_parquet(p, index=False)
        os.utime(p, (now + i, now + i))

    def run(tag: str, kill: int) -> tuple[str, str, str]:
        out = os.path.join(base, f"tbl_{tag}")
        chk = os.path.join(base, f"chk_{tag}")
        log = os.path.join(base, f"log_{tag}")
        flag = os.path.join(base, f"flag_{tag}")
        cmd = [
            sys.executable, runner, src, out, chk, str(kill), log, flag,
        ]
        r = subprocess.run(
            cmd, capture_output=True, text=True, cwd="/root/repo",
            timeout=600,
        )
        return out, log, r.stdout

    # uninterrupted reference run
    ref_out, ref_log, stdout = run("ref", -1)
    assert "SINK_DONE" in stdout

    # crash run: first pass dies mid-epoch 4 (write done, commit not)
    out, log, stdout = run("crash", kill_epoch)
    assert "SINK_DONE" not in stdout, "runner must die at the kill epoch"
    with open(log) as f:
        first = [int(x) for x in f.read().split()]
    assert first[-1] == kill_epoch, f"died at epoch {first[-1]}, not {kill_epoch}"
    assert glob.glob(os.path.join(out, f"epoch={kill_epoch}", "dt=*")), (
        "killed epoch's table output must be fully on disk"
    )

    # restart on the same checkpoint: must REPLAY epoch 4, then finish
    out2, log2, stdout = run("crash", kill_epoch)
    assert out2 == out
    assert "SINK_DONE" in stdout, "restart must drain to completion"
    with open(log) as f:
        invocations = [int(x) for x in f.read().split()]
    assert invocations.count(kill_epoch) == 2, (
        f"epoch {kill_epoch} must run twice (crash + replay): {invocations}"
    )
    assert sorted(set(invocations)) == list(range(n_batches)), invocations

    # bit-identical logical state vs the uninterrupted run: same rows
    # under the same (epoch, dt, hr) partitions — the duplicate epoch
    # was overwritten in place, not appended
    crash_tbl = spark.read.parquet(out)
    ref_tbl = spark.read.parquet(ref_out)
    assert crash_tbl.count() == len(pdf)
    cols = crash_tbl.columns
    assert sorted(cols) == sorted(ref_tbl.columns)
    diff = crash_tbl.select(*cols).exceptAll(ref_tbl.select(*cols))
    diff2 = ref_tbl.select(*cols).exceptAll(crash_tbl.select(*cols))
    assert diff.count() == 0 and diff2.count() == 0, (
        "crash+replay table differs from the uninterrupted run"
    )
    # and the logical table is exactly the source
    table = sink.read_sink_table(spark, out)
    assert table.select("event_id").distinct().count() == len(pdf)
    shutil.rmtree(base, ignore_errors=True)
