"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` single-JVM; the conf below is chosen so
the same logical plans scale to a real multi-executor cluster at ~100 TB:

- AQE on (runtime partition coalescing, broadcast conversion, skew-join
  splitting) — the 100 TB insurance policy for every shuffle we declare.
- Arrow on — every Pandas UDF / ``applyInPandas`` path in this repo moves
  columnar batches, never rows.
- Session timezone pinned to UTC — all window/day bucketing in the engine
  is epoch-aligned and must not depend on the host's zone (the DuckDB
  oracle computes over naive==UTC timestamps).
- Python workers fork from ``_pydaemon`` instead of ``pyspark.daemon``.
  pyspark calls ``importlib.invalidate_caches()`` at the start of every
  Python task, and on CPython < 3.13 that re-reads the central directory
  of every zip archive on the worker's ``sys.path``: pyspark.zip (1,328
  entries, about a dozen importers) and the spark-core jar (5,359
  entries, no ``.py`` files), about 250 ms of worker CPU per task before
  the first row.  ``_pydaemon`` re-reads an archive only when its stat
  stamp changed, so ``addPyFile`` archives and rewritten archives are
  still picked up.  CPython 3.13 made ``zipimporter.invalidate_caches``
  lazy; once workers run Python >= 3.13 the module does nothing and can
  be deleted together with ``PYTHON_DAEMON_MODULE`` below.  Sessions
  built elsewhere (e.g. a host-supplied driver session) keep Spark's
  default daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: confs that are safe (and required for determinism) to set on an
#: externally supplied session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # custom Python data sources (sources/pydatasource.py) implement
    # pushFilters(); Spark 4.1 refuses a pushdown-capable reader unless
    # this is on
    "spark.sql.python.filterPushdown.enabled": "true",
}


#: the worker daemon module; see the module docstring
PYTHON_DAEMON_MODULE = "flinkecuserbehavioranalysis_spark._pydaemon"


def _workers_can_import_package() -> bool:
    """Whether a ``python -m`` worker started in this process's cwd with
    its PYTHONPATH finds this package (local mode inherits both)."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == root for p in paths)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an existing session (e.g. the
    driver's).  Idempotent; never touches static confs."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


def get_spark(app_name: str = "flink-ec-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session.

    ``shuffle_partitions`` defaults to the local core count: at test scale
    AQE coalesces down, on a real cluster this would be sized ~2-3x total
    cores / bounded by ~128 MB per shuffle partition at the target SF.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    if _workers_can_import_package():
        builder = builder.config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
