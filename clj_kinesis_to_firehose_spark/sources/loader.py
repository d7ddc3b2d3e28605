"""Batch table loaders — the single choke point for fixture I/O.

All operators load through here so the events timestamp shim
(SURVEY.md §1.2) is applied exactly once, uniformly. The fixture's
``events.ts`` physical type has varied across driver revisions —
``TIMESTAMP(NANOS)`` (read as long nanos under
``spark.sql.legacy.parquet.nanosAsLong=true``), and later plain
``TIMESTAMP(MICROS)`` (read as TIMESTAMP_NTZ under Spark 4's
parquet NTZ inference). The loader normalizes every variant to a
session-tz ``timestamp`` column so downstream operators and the
DuckDB oracle (naive µs timestamps, UTC session tz) agree exactly:

* long nanos → ``timestamp_micros(ts div 1000)`` (integer ``div`` —
  double division would lose sub-µs precision at 1.7e18 ns and round
  a stray row to the wrong microsecond; DuckDB truncates ns→µs the
  same way).
* TIMESTAMP_NTZ → ``cast(timestamp)``; identity under the engine's
  mandatory UTC session timezone.

Scale notes: loaders return lazy DataFrames straight off the parquet
scan — no caching, no collect — so Catalyst's column pruning and
predicate pushdown reach the file scan in every downstream operator.
At 100 TB the same code reads a partitioned table directory; nothing
here assumes single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.session import ensure_configs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_configs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))
    return df


def _normalize_ts(dtype) -> F.Column:
    """Column expression normalizing ``events.ts`` to TimestampType
    regardless of which physical parquet type this fixture revision
    used (see module docstring)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.LongType):
        # long nanos → µs timestamp; integer div keeps exact µs truncation
        return F.expr("timestamp_micros(ts div 1000)")
    if isinstance(dtype, T.TimestampNTZType):
        # naive µs → session-tz timestamp; identity under UTC session tz
        return F.col("ts").cast("timestamp")
    return F.col("ts")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str = "kf_") -> str:
    """Fresh scratch directory under ONE per-process root that is
    removed at interpreter exit. Operators that materialize local
    state (replay slices, parquet indexes, stream outputs,
    checkpoints) allocate through here instead of bare
    ``tempfile.mkdtemp`` so repeated sweep/bench runs don't
    accumulate unbounded /tmp state across invocations."""
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="kf_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _parse_byte_size(raw: str) -> int:
    """Parse a Spark byte-size conf string (``134217728``, ``128m``,
    ``1g``, ``512k``, ``134217728b``) to bytes. Stripping non-digits —
    the previous approach — read ``128m`` as 128 bytes, inflating the
    split estimate ~10^6× and silently disabling the small-file
    fan-out repartition."""
    s = raw.strip().lower()
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    # Spark's byteStringAs accepts both one- and two-letter suffixes
    # ("128m" and "128mb") — strip the trailing 'b' of a two-letter
    # form first so "32mb" parses as 32 MiB, not a ValueError fallback
    if len(s) >= 2 and s.endswith("b") and s[-2] in units and s[-2] != "b":
        s = s[:-1]
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(s) * mult


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes; -1 when
    broadcasting is disabled."""
    return _parse_byte_size(str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")))


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count when a scan arrives with
    fewer partitions — the local-fixture mitigation for single-file
    single-row-group parquet, which otherwise serializes all scan-side
    compute (shingling, tokenization, vector math) onto one core.

    On a real layout (many files / row groups / a 1000-executor
    cluster) the scan already parallelizes and this is a no-op, so the
    extra exchange never appears at scale; locally the rows moved are
    bounded by the fixture size. Apply only ahead of CPU-heavy per-row
    work — cheap scans and plan-audited relational paths keep their
    native scan parallelism.

    The few-partitions probe reads the scan's input-file listing
    (plan metadata only) instead of ``df.rdd.getNumPartitions()`` —
    converting to RDD forced a full plan analysis per call on the hot
    registration path. Few files alone doesn't mean few partitions,
    though: Spark SPLITS large parquet files at
    ``spark.sql.files.maxPartitionBytes``, so a handful of big files
    already parallelizes — the estimate below counts per-file splits
    (local sizes; a non-local path it can't stat counts as one split,
    the conservative choice) and repartitions only when the scan truly
    can't reach core count."""
    import math
    import os

    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    try:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        max_pb = _parse_byte_size(str(raw))
    except Exception:
        max_pb = 128 * 1024 * 1024
    est_splits = 0
    for f in files:
        local = f[len("file:"):] if f.startswith("file:") else f
        try:
            est_splits += max(1, math.ceil(os.path.getsize(local) / max_pb))
        except OSError:
            est_splits += 1
    if est_splits < target:
        return df.repartition(target)
    return df


def estimated_bytes(df) -> int:
    """Spark's own size estimate of ``df`` (its optimized plan's
    ``sizeInBytes``), or -1 when unknown; callers MUST treat -1 as
    'large', so the 100 TB plan shape is the default whenever the
    estimate is unavailable. Sources that report no statistics (the
    rate source, Python DataSources) estimate ``Long.MaxValue``, which
    reads as -1 here. It needs no file listing, so it also sizes a
    ``foreachBatch`` micro-batch, whose ``inputFiles()`` is empty: the
    micro-batch plan carries the statistics of the plan it was cut
    from."""
    from py4j.protocol import Py4JError

    try:
        # py4j returns the Scala BigInt as a Python int or as a proxy
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (Py4JError, AttributeError):  # no JVM plan (e.g. Spark Connect)
        return -1
    return est if est < 2**63 - 1 else -1
