"""SparkSession construction with the engine's required configs.

Scale notes (100 TB design): these configs are the local-mode
projection of a cluster profile — AQE on (runtime partition
coalescing + skew-join splitting), Arrow on (vectorized
pandas-UDF interchange), explicit shuffle partitions sized to the
local core count. On a real cluster the same builder is used with
``master`` unset (cluster manager decides) and shuffle partitions
left to AQE's ``spark.sql.adaptive.coalescePartitions``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session confs every query in this engine assumes. ``ensure_configs``
#: re-applies the runtime-settable ones to foreign sessions (the
#: driver's harness builds its own SparkSession).
RUNTIME_CONFS = {
    # Some fixture revisions write events.ts as parquet TIMESTAMP(NANOS),
    # which Spark 4.x refuses without this legacy flag (reads as long
    # nanos; the loader normalizes — see sources/loader.py). Harmless on
    # µs-timestamp revisions.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic cross-engine timestamps (DuckDB oracle is tz-naive).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas-UDF / toPandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Right-size shuffles when running inside a foreign session (the
    # driver harness's default of 200 makes local streaming state and
    # small aggregations latency-bound); AQE coalesces further.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_spark(app_name: str = "kf-spark", cpus: int | None = None) -> SparkSession:
    """The engine's session: ``local[cpus]`` with the configs above.

    Its Python workers run under the engine's daemon module
    (:mod:`clj_kinesis_to_firehose_spark.pyworker`), which spares every
    Python task PySpark's re-read of each zip archive on the worker's
    import path, a fixed cost of every task on CPython 3.10-3.11.
    Workers import that module the way they import the operators' UDFs:
    from the working directory or ``PYTHONPATH``."""
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "clj_kinesis_to_firehose_spark.pyworker")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_configs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Safe to call repeatedly; used by every loader entry point so the
    engine works inside the driver's own SparkSession.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder-time setting required
    return spark
