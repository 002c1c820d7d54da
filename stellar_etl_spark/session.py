"""SparkSession construction with scale-appropriate defaults.

The reference configures its pipeline with prefetch buffers and worker counts
(``internal/utils/main.go:241-244``); in Spark those knobs become AQE, shuffle
partitioning, Arrow batching, and the streaming state store. Everything here is
public Spark configuration.

Partitioning rule: ``spark.sql.shuffle.partitions`` defaults to the session's
core count, so every shuffle stage -- and every micro-batch of a stateful
streaming operator -- runs as ONE wave of tasks on the cores the session
owns. More partitions than cores add no parallelism, only fixed per-task
cost, and that cost is large for the Python state operators: each state
partition starts at least two Python worker tasks per micro-batch. At the
earlier ``max(cores, 8)`` a 4-core session ran two waves per micro-batch;
one wave took the bounded ``export_pairs`` benchmark pass from ~18 s to
~13 s. A streaming checkpoint fixes its state-partition count when it is
created, so existing checkpoints keep theirs. On a real cluster pass
``shuffle_partitions`` explicitly (~2-3x total cores; AQE coalesces the
excess of stateless stages).

Per-task Python cost: every task's set-up calls
``importlib.invalidate_caches()``, which before CPython 3.13 re-reads the
1328-entry ``pyspark.zip`` directory once for each of its 14 cached zip
importers: 0.17-0.23 s per call in a 16-task pandas UDF job on a 4-core
VM (Spark 4.1, CPython 3.11). On ``local[...]``/``local-cluster[...]``
masters, with this package imported from a directory, the workers run
under :mod:`stellar_etl_spark.pydaemon`, which re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed: 0.12-0.22 ms per call,
and the ``export_pairs`` benchmark pass fell from ~12.1 s to ~7.8 s. A
package shipped as a ``--py-files`` zip, or any other master, keeps the
stock ``pyspark.daemon``.

Design notes for the 100 TB / 1000-executor target (tested on local[N]):

- AQE on, with skew-join splitting: hot conversations (the "hot ledger"
  analog) are the dominant skew source; AQE splits oversized post-shuffle
  partitions at runtime.
- Arrow enabled for all pandas UDF exchange; batch size bounded so grouped-map
  state per task stays in memory.
- RocksDB state store provider for streaming state (bundled with Spark 4):
  session-window and stream-stream-join state at 10^12-turn scale cannot live
  on the JVM heap.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS, else the CPUs this process may run on (not the host's
# count: a pinned or containerised process owns fewer)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or (
    len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1
)

# the directory this package was imported from; not a directory when it came
# from a zip (``spark-submit --py-files``)
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_conf(master: str) -> dict[str, str]:
    """Run Python workers under :mod:`stellar_etl_spark.pydaemon` on local
    masters when the package was imported from a plain directory, and put
    that directory on the workers' PYTHONPATH so the daemon import does not
    depend on the JVM's cwd. Anything else keeps the stock ``pyspark.daemon``."""
    if not (os.path.isdir(_PKG_ROOT) and re.match(r"local(-cluster)?\[", master)):
        return {}
    return {
        "spark.python.daemon.module": "stellar_etl_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": _PKG_ROOT,
    }


def get_spark(
    app_name: str = "stellar-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` controls local parallelism (the sandbox proxy for executor
    count) and defaults to ``SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on; ``shuffle_partitions`` defaults to ``cores`` (one wave per
    stage, see the module docstring). The same code ships unchanged to a
    real cluster via ``spark-submit --py-files`` where ``master`` comes from
    the submitter. ``extra_conf`` is applied last, so it overrides every
    setting here, the worker daemon's included.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores

    # SPARK_GRAFT_MASTER overrides the master URL — used by bench_scaling.py
    # to run local-cluster[n, c, mem] (one JVM per executor, the honest proxy
    # for an N-executor cluster; a single local[N] JVM hits GC/allocation
    # contention that real multi-JVM clusters don't have).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime coalesce + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow exchange for every pandas UDF / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Scan sizing: 128 MiB splits keep 100 TB ≈ 800k tasks, fine for AQE.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
    )

    if streaming:
        builder = (
            builder
            # RocksDB keeps streaming state off-heap; mandatory at design scale.
            .config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        )

    for k, v in {**_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

