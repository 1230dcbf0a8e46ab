"""SparkSession factory.

Local mode here, but every config is chosen to survive a 1000-executor
cluster at ~100 TB: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), UTC session timezone (EdgeLake stores and compares
timestamps in UTC — reference edge_lake/generic/utils_columns.py:1660 —
and the DuckDB oracle is UTC-naive), Arrow enabled for the Pandas-UDF
slow path.

Generated-code cache: every whole-stage and expression class Spark
generates is compiled by Janino once and kept in an LRU cache keyed by
its source (``spark.sql.codegen.cache.maxEntries``). Spark's default of
100 entries is smaller than one pass of the gate runners: the six
runners ``tpch_q1``, ``tpch_q3``, ``tpch_q5ish``, ``tpch_q18ish``,
``events_sessionize`` and ``doc_minhash_pairs`` generate 151 classes at
sf0.001, and a cold pass of the 13 perfbench ``batch`` runners 342-345.
At 100 entries the cache thrashes: a warm pass of the six runners
recompiles 120-150 of their 151 classes, so a query node running the
same shapes over and over pays Janino on every query. The cache holds
``CODEGEN_CACHE_ENTRIES`` (4000) classes, over ten times the largest
measured mix, and a warm pass compiles none. It is a static conf, so it
is set here, at session build.

Python worker daemon: Python workers fork from
``edgelake_spark.worker_daemon`` (``spark.python.daemon.module``), whose
zip importers skip the archive re-read that PySpark triggers at the
start of every task on CPython before 3.12: about 0.2 s of CPU per task
however small, so a 4-partition ``mapInPandas`` cost 0.8-1.0 s of
worker CPU, and about 0.2 s with the daemon. ``spark.executorEnv.PYTHONPATH``
names the directory that holds this package, so the daemon and the
engine's pandas UDFs pickled by reference
(``functions.multimodal.extract_features``) import from any working
directory. Both are static confs: a session the engine did not build,
such as a bare ``SparkSession.builder`` one, keeps stock workers and their
per-task cost, and its workers find engine UDFs only through their cwd
or ``$PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Janino-compiled classes kept across queries: a cold ``batch`` pass
#: generates 342-345 (module docstring), so 4000 holds the gate mix with
#: room to spare.
CODEGEN_CACHE_ENTRIES = 4000

#: the directory that holds the ``edgelake_spark`` package, put on the
#: Python workers' path so the daemon and engine UDFs import anywhere
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """Half of this host's RAM. Local mode runs every task in the driver
    JVM; the other half is left to the Python workers (pandas UDFs, the
    Arrow boundary) and to the page cache the parquet scans read from."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "edgelake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    ``shuffle_partitions`` defaults to the core count — at cluster scale
    you would size it to total-cores or rely on AQE coalescing, which is
    enabled here and does the right thing in both regimes. The driver
    heap is ``$SPARK_DRIVER_MEMORY`` or half of this host's RAM.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only JVM: size its heap to the machine, or
        # the executor threads + checkpointed intermediates GC-thrash
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory())
        # explicit System.gc() (bench inter-query cleanup, block-manager
        # housekeeping) must not stop the world for a multi-GB heap: run
        # it as a concurrent G1 cycle so a timed query never eats a full
        # STW collection triggered by the previous query's cleanup
        .config("spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata ships timestamp[ns] columns (events.ts); Spark has no
        # nanosecond timestamp type, so read them as int64 and the
        # catalog converts to microsecond timestamps (truncating,
        # exactly like DuckDB's ns→us read of the same files)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-checkpoint mode (edgelake_spark/checkpoint.py) writes
        # df.checkpoint() files per barrier; this makes the ContextCleaner
        # delete a checkpoint's files once its RDD is GC'd — the file-form
        # analogue of the localCheckpoint unpersist discipline, without
        # which an iterative job (CC label rounds) accumulates one file
        # set per round until the checkpoint dir fills
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Python workers skip the per-task archive re-read (module docstring)
        .config("spark.python.daemon.module", "edgelake_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
