"""SparkSession factory with scale-appropriate defaults.

The reference runs single-threaded pandas in one process
(reference: omim2obo/main.py:227-528 — program-order execution, no
planner).  Here every plan goes through Catalyst; this module only
pins the configs that matter for determinism and for the local[N]
test harness, while staying valid for a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join handling at real scale).
- Low ``spark.sql.shuffle.partitions`` locally; on a cluster this is
  overridden by AQE's coalescing from the initial partition number.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent.
- Arrow enabled for the (rare) pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "omim-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    The package root is exported on PYTHONPATH before the JVM starts:
    pandas UDFs defined in omim_spark modules are pickled BY REFERENCE,
    so executor-side Python workers must be able to import the package
    — which a driver-side sys.path insert alone does not provide when
    the process is launched from outside the repo (workers inherit the
    env, not the driver's sys.path).  On a real cluster the same role
    is played by shipping the package (--py-files / a wheel)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def parallelism(spark: SparkSession) -> int:
    """Partition count for spreading work: the core count.  Spark
    Connect has no driver-side SparkContext; there it falls back to
    ``spark.sql.shuffle.partitions``, not used everywhere because a
    bare session leaves it at 200."""
    try:
        return spark.sparkContext.defaultParallelism
    except NotImplementedError:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
