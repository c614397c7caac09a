"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with settings that transfer to a large
cluster: AQE on (runtime re-plan + skew-join splitting), Arrow transport
for every pandas UDF, small-dim auto-broadcast, and shuffle partitions
sized by parallelism (on a real cluster this would be ~2-3x total cores,
or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.python.daemon.module for every session this package builds: see
# worker_daemon.py (saves ~0.3-0.7 s of pyspark.zip re-parsing per task)
WORKER_DAEMON_MODULE = "spark_frontier.worker_daemon"


def worker_daemon_conf() -> dict[str, str]:
    """Conf that forks Python workers from ``WORKER_DAEMON_MODULE``.

    The daemon is imported before a task puts ``--py-files`` on
    ``sys.path``, so the directory or archive this package was loaded
    from goes on the workers' PYTHONPATH too, replacing any
    ``spark.executorEnv.PYTHONPATH`` set elsewhere. That path is the
    driver's: it serves local mode; cluster executors need the package
    installed or on their PYTHONPATH (YARN puts ``--py-files`` there).
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": WORKER_DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": root,
    }


def get_spark(
    app_name: str = "spark-frontier",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores. On a real cluster the master URL
    comes from spark-submit and this argument is ignored by Spark.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-partition overhead at test scale.
        shuffle_partitions = max(int(cores), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR across scheduler pools: the crawl cycle overlaps cycle-init
        # jobs (bloom read/agg, host-state read) and async state commits
        # with the main discovery/wave jobs from other threads; FIFO would
        # park those 1-task jobs behind a 10 s parse stage
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # python workers dominate this engine's hot path — keep them alive
        # across tasks/stages instead of forking+importing numpy per task,
        # and fork them from a daemon that makes the per-task import-cache
        # flush a stat instead of a pyspark.zip re-parse (worker_daemon.py)
        .config("spark.python.worker.reuse", "true")
        .config(map=worker_daemon_conf())
        # small-file worlds: split parquet scans finer than the 128m default
        # so a single-file table doesn't serialize its scan stage. 2m (not
        # round-2's 16m): a 10 MB zstd table at 16m was ONE scan task that
        # also did the whole shuffle-write for any join over it — a fixed,
        # core-count-independent cost that capped N→4N scaling. Splits stop
        # at row-group boundaries (synth worlds write 64k-row groups).
        .config("spark.sql.files.maxPartitionBytes", "2m")
        # keep AQE's partition coalescing from collapsing the UDF-bearing
        # join-output stages: 64m advisory would merge a ~120 MB wave into
        # 2-3 tasks and serialize the validate UDF on a 32-core box
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
