"""SparkSession factory tuned for this engine.

Used by tests and bench.py. The driver passes its own session into
``queries()`` callables, so operator code must never create sessions —
only this module (and only for local runs).

Scale posture: these settings are the local[32] test profile. On a real
cluster the same code runs unchanged; only ``spark.sql.shuffle.partitions``
(or AQE target sizes) and executor sizing move with the data volume.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _package_root() -> str:
    """Directory that must be on every PYTHON WORKER's sys.path for
    ``mapInPandas``/UDF closures referencing this package to unpickle
    (the repo root — parent of the package directory)."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "flume-hive-batch-sink-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers resolve imports from the PYTHONPATH the JVM hands
    # them, not from the driver's sys.path — so a conftest/sys.path fix
    # alone leaves every mapInPandas key dying with a worker
    # ModuleNotFoundError when the process is launched from outside the
    # repo root (round-8 verdict). Export it in the driver env (local
    # mode workers inherit it) AND as executorEnv (cluster mode).
    root = _package_root()
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if root not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + [p for p in parts if p])
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # tz-naive testdata timestamps; pin UTC so date functions are
        # deterministic regardless of host tz (SURVEY.md §2 pitfalls).
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet uses parquet TIMESTAMP(NANOS); see io._ensure_session_confs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round-15 note: a global
        # coalescePartitions.minPartitionSize=64k floor was tried for
        # the byte-light/row-explosive fan-out joins (AQE coalesces by
        # INPUT bytes and was under-parallelizing them) and MEASURED
        # NET-NEGATIVE once the hot operators pinned their own fan-out
        # exchanges with explicit repartition(): the floor stopped
        # helping anywhere and hurt small-shuffle keys
        # (llm_minhash_estimate 6.5→11.3 s, stream_stream_join
        # 9.5→20.2 s, dq_skew_audit 1.4→2.1 s at sf0.1). Fan-out
        # parallelism therefore lives IN the operators
        # (partitioning.shuffle_parallelism + repartition), which also
        # holds under the driver's vanilla session; AQE keeps its
        # defaults here.
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming checkpoint logs (source log, offsets, commits, state
        # store commits) through FileSystem, not FileContext: on local
        # disk a FileContext rename costs ~17 ms against ~0.3 ms for
        # FileSystem.rename, so each small log write (createAtomic)
        # drops from ~25 to ~6 ms (p50 over Py4J, 4-vCPU VM, no native
        # libhadoop). Set at session build: the offsets and commits
        # logs are created lazily on the stream thread from the session
        # conf, so a conf scoped around start() would race. Chosen for
        # local disk: this manager renames after an exists() check, so
        # two writers of one batch file race where FileContext's
        # no-overwrite rename fails atomically — revisit it (or keep the
        # FileContext default) for hdfs:// checkpoints (ROADMAP item 1).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    return builder.getOrCreate()
