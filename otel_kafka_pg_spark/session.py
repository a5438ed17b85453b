"""SparkSession construction tuned for this engine.

Local-mode testing (local[N], one JVM) but every knob here is chosen so the
same plan survives a 1000-executor cluster: AQE on (runtime re-plan, skew-join
splitting, post-shuffle coalesce), Arrow on (vectorized pandas-UDF transfer),
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local parallelism: the deployment setting when given, else every core this
# process may run on (a fixed fallback oversubscribes small hosts)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _tuned(builder, shuffle_partitions: int):
    """Engine tuning applied to any session (local or cluster)."""
    return (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # the reference's attr-merge is last-write-wins (processor.go:116-119);
        # map_concat must behave the same instead of erroring on dup keys
        # (belt-and-braces only — the merge is expression-level correct
        # under any policy since round 3)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # zstd: measured equal write wall-time to snappy/lz4 on this host
        # (quiet-host medians 0.62-0.63s for the 600k-turn routed frame)
        # at 40% smaller output (27 vs 44 MB) — fewer scan bytes at 100 TB
        .config("spark.sql.parquet.compression.codec", "zstd")
    )


def get_job_spark(app_name: str) -> SparkSession:
    """Session for a job entry point (``jobs/``): the active session if
    there is one; else, under spark-submit, the submitted master/executor
    conf with only engine tuning (200 shuffle partitions, AQE coalesces)
    layered on; else a local ``get_spark`` session."""
    from pyspark import SparkConf

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    if not SparkConf().contains("spark.master"):
        return get_spark(app_name=app_name)
    spark = _tuned(SparkSession.builder.appName(app_name), 200).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_spark(
    app_name: str = "otel_kafka_pg_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cpus`` controls local parallelism (``local[cpus]``); shuffle partitions
    default to the core count so small-scale runs don't fragment into 200
    near-empty tasks, while AQE coalescing keeps large runs right-sized.
    """
    # Python workers inherit PYTHONPATH, not the driver's sys.path — without
    # this, any pandas-UDF/mapInPandas stage fails to unpickle package
    # functions when the driver was launched from a cwd outside the repo
    # (cluster deployments ship the package via spark-submit --py-files
    # instead; see jobs/pipeline.py)
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _pkg_root + (os.pathsep + _pp if _pp else "")
    n = cpus or DEFAULT_CPUS
    builder = (
        _tuned(SparkSession.builder.master(f"local[{n}]").appName(app_name), shuffle_partitions or n)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
