"""SparkSession factory.

One place to pin every config that correctness or scale depends on:

- ``spark.sql.session.timeZone=UTC`` — the reference mixes ISO strings and
  epoch seconds (reference: src/producer/producer_stock_quotes.py:88-96);
  we normalize all event time to UTC TimestampType at the edge so date
  functions are deterministic against the DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver fixtures store
  ``events.ts`` as INT64 TIMESTAMP(NANOS); Spark has no nanos type, so we
  read the raw long and truncate to micros in the catalog (identical to
  DuckDB's nanos→micros read behavior).
- AQE on — at 100 TB, runtime stats beat static planning: skew-join
  splitting, dynamic partition coalescing, runtime broadcast demotion.
- Arrow on — every pandas UDF crosses the JVM/Python boundary in Arrow
  batches, not pickled rows.
- Streaming checkpoints go through ``FileSystemBasedCheckpointFileManager``
  — Spark's default writes them through Hadoop ``FileContext``, and without
  the native Hadoop library every ``FileContext.rename`` runs
  ``FileUtil.readLink``, which forks a ``readlink`` process. Each trigger
  renames files in the offset, commit, source and sink logs and in every
  state-store partition, so an 8-batch ``ingest_backlog`` drain forked
  1,183 processes (JFR, 4 vCPUs), 592 of them on ``ckpt/state``. The
  FileSystem manager writes a temp file and calls ``FileSystem.rename``,
  which on a local disk is ``rename(2)``: atomic, and no process. Its
  no-overwrite check before the rename is not atomic, which matters only
  with two writers on one checkpoint — something Spark already forbids.
- ``file:`` is ``NioLocalFileSystem`` (``jvm/``, on the driver classpath),
  in place of Hive's ``ProxyLocalFileSystem``, which ``hive-exec``
  registers for it. Without the native Hadoop library, ``RawLocalFileSystem.setPermission``
  forks a ``chmod`` process, and every ``FileSystem.create`` and ``mkdirs``
  calls it: 303 forks in that 8-batch drain, about 38 per trigger. The
  engine's file system sets the same bits through
  ``Files.setPosixFilePermissions`` (one syscall) and keeps the ``.crc``
  checksums of ``LocalFileSystem``, so the local write path forks nothing.
  HDFS and S3 deployments are unaffected: only the ``file:`` scheme is
  rebound. A vanilla driver session keeps the default file system, since a
  running JVM cannot take a classpath entry; the two settings live in
  ``get_spark``, not in ``SESSION_SQL_CONFS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The SQL confs every engine session runs with. ``get_spark`` builds with
# them, and the driver contract (``__spark_entry__.py``) re-applies them to
# any session it is handed, so a vanilla session plans the same way.
SESSION_SQL_CONFS: tuple[tuple[str, str], ...] = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # AQE coalescing: a vanilla 200-partition session otherwise runs
    # 200-400 near-empty tasks per shuffle at oracle scale
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.parquet.mergeSchema", "false"),
    ("spark.sql.parquet.filterPushdown", "true"),
    # Partition discovery of the engine's own layouts (the minhash
    # store's 64 bp= dirs, the 31-day partitioned events) crosses the
    # default 32-path threshold and launches a DISTRIBUTED listing job
    # per reader build — a 64-task job to stat ~100 local directories
    # the driver lists in microseconds (r14 measurement: the band-table
    # reader alone cost +2 jobs/1.2-2.4 s per probe). 256 keeps every
    # engine layout driver-listed; deployments against high-latency
    # object stores with many more leaf dirs should lower it back
    # (get_spark(extra_conf=...)).
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", "256"),
    # NOTE (r7): spark.sql.requireAllClusterKeysForCoPartition stays at
    # its DEFAULT (true). Round 6 set it false so a bucketed-on-orderkey
    # SMJ whose equi-keys widened to (orderkey, nationkey) could reuse
    # the bucket distribution — but globally, the relaxation let joins
    # whose small side is partitioned on a key SUBSET drag the big side
    # down to that subset's distribution: the z-score's former (key,
    # __bkt) bookkeeping join was satisfied by hash(key) alone,
    # collapsing the heavy window to key-cardinality parallelism (sf10
    # measured: 38.7 s vs 7.7 s — a 5× regression on
    # q_event_rolling_zscore). Its co-partitioned join is now on
    # (key, row number) (rolling.with_trailing_sums), and the default
    # keeps it hashed on both columns: a few keys, every reducer. The one
    # query that needed the widened-key reuse (Q5) now joins on the
    # bucket key ONLY and applies the second equality as a post-join
    # filter — identical semantics, single-key SMJ, default configs.
    # Bucketed scans report per-bucket sort order when each bucket is
    # one file (our derivatives write exactly one — repartition(n, key)
    # ahead of bucketBy), letting SMJ skip its Sort (sf10: −17%).
    ("spark.sql.legacy.bucketedTableScan.outputOrdering", "true"),
    # FileSystem.rename, not FileContext.rename: without the native
    # Hadoop library the latter forks a readlink process per checkpoint
    # file, ~110 per micro-batch (module docstring).
    (
        "spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    ),
)


# The directory holding the package. Python workers import
# ``fineventstream_spark`` to unpickle the engine's UDFs and data sources,
# so a driver that found it through ``sys.path`` alone, started from another
# directory, must hand them this path.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The ``file:`` file system that sets permissions without forking ``chmod``
# (module docstring); ``scripts/build_localfs_jar.py`` rebuilds the jar from
# the sources beside it.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
LOCALFS_IMPL = "fineventstream.localfs.NioLocalFileSystem"


def _default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def default_driver_memory(phys_bytes: int) -> str:
    """Half of physical memory, capped at 32g, as a ``spark.driver.memory``
    value in MiB. A fixed 32g heap let one sf0.1 ``bench.py`` sweep grow
    the driver JVM to 15.5 GB on a 16 GB host, where the kernel killed it."""
    return f"{min(phys_bytes // 2, 32 << 30) >> 20}m"


def get_spark(
    app_name: str = "fineventstream-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a single JVM; on a real cluster the same configs apply,
    with ``shuffle_partitions`` sized to ~2-3× total cores and
    ``maxPartitionBytes`` sized so a task's input fits comfortably in an
    executor core's share of memory.
    """
    cpus = cpus or _default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = (
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraClassPath", LOCALFS_JAR)
        .config("spark.hadoop.fs.file.impl", LOCALFS_IMPL)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    )
    for k, v in SESSION_SQL_CONFS:
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
