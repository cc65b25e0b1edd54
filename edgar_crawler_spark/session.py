"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same settings apply
per-executor. All defaults are chosen for the 100 TB design point:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every custom
operator here is a pandas/Arrow UDF, never row-at-a-time), UTC pinned
so results compare bit-for-bit against external oracles.

Python workers start from `edgar_crawler_spark.pydaemon` instead of
the stock `pyspark.daemon`. The JVM puts `pyspark.zip`, the py4j zip
and the 15 MB spark-core jar on every worker's path, and PySpark's
worker refreshes the import caches before every task; on CPython 3.11
that re-reads each archive's central directory in pure Python, about
0.2 CPU-s per task before any UDF runs. The engine daemon drops those
archives when the same `pyspark` is installed as a directory (see its
docstring for the rule) and otherwise leaves the path alone. The
engine's root goes on the workers' PYTHONPATH (merged into any
`spark.executorEnv.PYTHONPATH` the caller passes), so the daemon
starts from wherever the driver imported the engine.

The engine daemon also imports, once, what every Arrow UDF task
imports (pandas with pyarrow, PySpark's Arrow serializers and the
engine's extraction, frontier and extract-job modules), and freezes
that heap (`gc.freeze()`) before it forks workers. The workers share
those pages, and the full `gc.collect()` PySpark's daemon runs after
every task of a reused worker does not walk them (`pydaemon.py` has
the per-task and memory figures).

When the engine itself is imported from an archive (spark-submit
`--py-files`), the daemon could not be started from it, so the stock
daemon runs, and those workers still pay both costs: the archive
re-reads and the per-task collection of their whole heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the `edgar_crawler_spark` package, or a path
# inside an archive when the engine is imported from one
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "edgar_crawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to the core
    count: at local scale 200 shuffle partitions would be ~190 empty
    files of scheduling overhead; on a cluster callers pass an explicit
    value sized so each shuffle partition is ~128MB.
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env_cores) if env_cores else os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Extraction UDFs rebuild deep regex state; keep python workers alive.
        .config("spark.python.worker.reuse", "true")
        # Deterministic hashing inside python workers (anchor_hash etc.).
        .config("spark.executorEnv.PYTHONHASHSEED", "0")
    )
    extra_conf = dict(extra_conf or {})
    if os.path.isdir(_ENGINE_ROOT):
        # `python -m` would put the JVM's working directory first on
        # the workers' path, so a checkout the driver was started in
        # would shadow _ENGINE_ROOT; safe_path (CPython >= 3.11) leaves
        # it off
        builder = builder.config(
            "spark.python.daemon.module", "edgar_crawler_spark.pydaemon"
        ).config("spark.executorEnv.PYTHONSAFEPATH", "1")
        env_path = extra_conf.get("spark.executorEnv.PYTHONPATH")
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            [_ENGINE_ROOT] + ([env_path] if env_path else []))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
