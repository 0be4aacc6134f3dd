"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every knob here is
chosen for cluster scale: AQE on (runtime re-plan, skew-join splitting,
shuffle-partition coalescing), broadcast threshold sized for dimension
tables, Arrow enabled for the Pandas-UDF paths, and UTC session time so
results are deterministic regardless of cluster timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied both when *we* build the session and when the driver
#: hands us one (see :func:`configure_runtime` for the mutable subset).
_BUILD_CONF = {
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # joins, and convert to broadcast joins at runtime. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/supplier/part at any SF worth
    # broadcasting) stay under this; fact-fact joins shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # AQE sort-merge -> shuffled-hash rewrite (off by default, guide §3.1):
    # fires only when EVERY post-shuffle partition of the build side is
    # under this bound, so per-task memory stays capped at 64 MiB — a
    # size-based gate that adapts per query at any scale (it is NOT a
    # local-core-count tune). Static plans unchanged (runtime rewrite
    # only). At sf0.1 the registered queries' equi-joins all resolve to
    # broadcasts (no local bench win claimed — OPTIMIZATION_r11.md has
    # the corrected evidence); the mechanism is proven live on a plain
    # fact-fact join (plans/r11/aqe_shj_mechanism_probe.txt) and is what
    # a 100 TB large-large join hits.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
    # Arrow for all pandas_udf / applyInPandas / toPandas transfers.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamps independent of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (older events fixtures) has no Spark type;
    # read as raw epoch-nanos LONG and rebuild micros in the loader
    # (catalog.py dispatches on the scanned dtype, so micros-typed
    # fixtures are unaffected by this flag).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 128 MiB input splits: good parquet scan granularity at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # PySpark's per-call call-site capture: with it on, every DataFrame/
    # Column method records its Python call site in the JVM, about 4
    # extra py4j round trips per call (one pass of the four benchmark
    # query_mix queries over the sf0.01 fixture: 9,642 round trips with
    # it, 4,822 without). Errors stay located: classic mode analyzes
    # eagerly, so an AnalysisException still raises at the caller's own
    # line; only the Python-origin lines in runtime-error query contexts
    # go. PySpark reads this key once per process and caches it, so it
    # only works at session build: it goes through get_spark(), not
    # configure_runtime().
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

#: Conf keys that are safe to set on a live session (runtime-mutable).
_RUNTIME_CONF = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "mssql2monetdb-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession used by tests and bench runs."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in _BUILD_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable defaults to an externally-provided session.

    The correctness driver constructs its own SparkSession; query callables
    route through this so results stay deterministic (UTC) and adaptive
    execution is on even when the outer session didn't set it.  On a
    non-local master this also ships the package zip to executors so
    by-reference-pickled UDF helpers import there (engine/deploy.py).
    """
    for key in _RUNTIME_CONF:
        if key in _BUILD_CONF:
            try:
                spark.conf.set(key, _BUILD_CONF[key])
            except Exception:  # pragma: no cover - conf may be static
                pass
    from .engine.deploy import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark
