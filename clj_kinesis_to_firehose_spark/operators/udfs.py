"""UDF / UDAF / UDTF surface (SURVEY.md §2 K1-K5).

These exist to prove the extension surface, with the standard scale
caveats baked in: K1 is the row-at-a-time form (demonstrated on a
filtered slice — it is the slow path and documented as such); K2-K4
are Arrow-batched pandas forms (the 100 TB-appropriate Python escape
hatch); K5 is the table-function form.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table


@register(
    "udf_python",
    oracle="""
    SELECT event_id,
           CASE WHEN LENGTH(props) >= 10 THEN 'large'
                WHEN LENGTH(props) >= 9 THEN 'medium'
                ELSE 'small' END AS payload_class
    FROM events WHERE event_id < 2000
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row-scalar Python UDF (payload-size classifier). Deliberately the
    # slow path — per-row Python round trips — kept on a bounded slice;
    # the same logic as a SQL CASE so the oracle is exact.
    @F.udf(returnType=StringType())
    def classify(props: str) -> str:
        n = len(props)
        if n >= 10:
            return "large"
        if n >= 9:
            return "medium"
        return "small"

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select("event_id", classify("props").alias("payload_class"))


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id,
           ROUND(LN(value + 1.0) * 100.0, 6) AS value_score
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vectorized Arrow-batched scalar UDF: numpy evaluates whole
    # columns per batch — the correct shape for Python math at scale
    import numpy as np

    @F.pandas_udf(DoubleType())
    def value_score(v: pd.Series) -> pd.Series:
        return pd.Series(np.round(np.log(v.to_numpy() + 1.0) * 100.0, 6))

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", value_score("value").alias("value_score"))


@register(
    "udaf_grouped_agg",
    oracle="""
    SELECT event_type,
           ROUND(SUM(value * CAST(user_id + 1 AS DOUBLE))
                 / SUM(CAST(user_id + 1 AS DOUBLE)), 6) AS weighted_mean_value
    FROM events GROUP BY event_type
    """,
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped-aggregate pandas UDF (weighted mean). numpy dot keeps the
    # whole group vectorized; Spark plans partial aggregation around it
    import numpy as np

    @F.pandas_udf(DoubleType())
    def weighted_mean(v: pd.Series, w: pd.Series) -> float:
        wv = w.to_numpy()
        return float(np.round(np.dot(v.to_numpy(), wv) / wv.sum(), 6))

    ev = load_table(spark, sf_dir, "events").withColumn(
        "weight", (F.col("user_id") + 1).cast("double")
    )
    return ev.groupBy("event_type").agg(
        weighted_mean("value", "weight").alias("weighted_mean_value")
    )


_ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("zscore", DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # per-group normalization; ddof=1 matches SQL STDDEV_SAMP
    v = pdf["value"]
    sd = v.std(ddof=1)
    z = (v - v.mean()) / sd if sd > 0 else v * 0.0
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "zscore": z.round(6),
        }
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) AS zscore
    FROM events
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applyInPandas grouped-map: whole group as one pandas frame per
    # call — shuffle on the group key, then embarrassingly parallel
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").applyInPandas(_zscore_group, _ZSCORE_SCHEMA)


@register(
    "udtf_python",
    oracle="""
    SELECT doc_id,
           UNNEST(STRING_SPLIT(text, ' ')) AS token,
           CAST(GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS BIGINT) AS pos
    FROM documents WHERE doc_id < 60
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one output row per token with its 1-based position.

    Implemented with mapInPandas (Arrow-batched row expansion) rather
    than the lateral-join @udtf form so the fan-out stays vectorized
    per batch; semantics are identical to a table function applied per
    input row.
    """
    out_schema = "doc_id long, token string, pos long"

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            lens = toks.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].repeat(lens).astype("int64"),
                    "token": [t for row in toks for t in row],
                    "pos": [p + 1 for row in toks for p in range(len(row))],
                }
            )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return docs.select("doc_id", "text").mapInPandas(tokenize, schema=out_schema)


_COGROUP_SCHEMA = (
    "c_custkey long, c_acctbal double, n_orders long, "
    "total_spent double, max_order double"
)

#: bytes of parquet input per cogroup bucket (see _cogroup_buckets)
_COGROUP_BUCKET_BYTES = 4 << 20

_COGROUP_COLS = ["c_custkey", "c_acctbal", "n_orders", "total_spent", "max_order"]


def _cogroup_buckets(spark: SparkSession, *dfs: DataFrame) -> int:
    """Bucket count for a bucketed cogrouped-map (guide §2.3/§4.5):
    one Python call per BUCKET, so the count must (a) scale with input
    size so per-call frames stay memory-bounded, and (b) never drop
    below the session's parallelism. ~4 MB of parquet input per bucket
    keeps fixture buckets at the core count and gives a 100 TB input
    millions of distinct keys (well above any partition count, so the
    hash spreads evenly — guide §2.5)."""
    import math
    import os

    floor = spark.sparkContext.defaultParallelism
    try:
        in_bytes = 0
        for df in dfs:
            for f in df.inputFiles():
                local = f[len("file:"):] if f.startswith("file:") else f
                in_bytes += os.path.getsize(local)
        return max(floor, math.ceil(in_bytes / _COGROUP_BUCKET_BYTES))
    except Exception:  # non-local storage: keep a generous default
        return max(floor, 200)


def _customer_order_stats(key, cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
    # One call per BUCKET of customer keys (not per key — r16, guide
    # §2.3: per-key applyInPandas paid ~1.7 ms of Python/pandas
    # ceremony per customer, 26 s at sf0.1). Inside the bucket the
    # same stats are computed vectorized: one pandas groupby over the
    # bucket's orders, one left merge onto the bucket's customers.
    if cust.empty:
        return pd.DataFrame(columns=_COGROUP_COLS)
    cust = cust[["c_custkey", "c_acctbal"]]
    if len(orders):
        # raw sums here; the deterministic HALF_UP rounding is
        # applied JVM-side after the cogroup (python round() is
        # half-even and would diverge from SQL ROUND)
        agg = orders.groupby("o_custkey")["o_totalprice"].agg(
            n_orders="size", total_spent="sum", max_order="max"
        )
        out = cust.merge(
            agg, left_on="c_custkey", right_index=True, how="left"
        )
    else:
        out = cust.assign(n_orders=0, total_spent=0.0, max_order=0.0)
    out["n_orders"] = out["n_orders"].fillna(0).astype("int64")
    out["total_spent"] = out["total_spent"].fillna(0.0).astype("float64")
    out["max_order"] = out["max_order"].fillna(0.0).astype("float64")
    return out[_COGROUP_COLS]


@register(
    "udf_cogrouped_map",
    oracle="""
    SELECT c_custkey, c_acctbal,
           COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS total_spent,
           ROUND(COALESCE(MAX(o_totalprice), 0.0), 2) AS max_order
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_acctbal
    """,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map pandas UDF (K surface): customer and orders are
    co-partitioned on a deterministic BUCKET of the customer key, and
    each (customer-bucket, order-bucket) pair arrives as two aligned
    pandas frames over Arrow. The per-pair python is arbitrary (here:
    vectorized order-book stats); the cogroup itself is one shuffle of
    each side on the bucket — the same cost as the equivalent
    join+agg, with full imperative freedom inside the group.

    r16 (guide §2.3/§4.5): bucketed, not per-key — the per-key form
    invokes Python once per customer (pandas ceremony × |customers| is
    the scale killer, 26 s at sf0.1 and unbounded at 100 TB); bucketed
    cogroup amortizes the call cost over ~4 MB of input per call and
    vectorizes the stats inside the bucket. The bucket key is
    pmod(xxhash64(long(key)), B) — deterministic under task retry (guide
    §2.5), with B derived from input size, not the local core count."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    nb = _cogroup_buckets(spark, customer, orders)
    # hash the key as a long on both sides: xxhash64 depends on the
    # input type, so an int key on one side and a long on the other
    # would land the same customer in different buckets
    b_cust = customer.withColumn(
        "b", F.pmod(F.xxhash64(F.col("c_custkey").cast("long")), F.lit(nb))
    )
    b_ord = orders.withColumn(
        "b", F.pmod(F.xxhash64(F.col("o_custkey").cast("long")), F.lit(nb))
    )
    out = (
        b_cust.groupBy("b")
        .cogroup(b_ord.groupBy("b"))
        .applyInPandas(_customer_order_stats, schema=_COGROUP_SCHEMA)
    )
    return out.select(
        "c_custkey",
        "c_acctbal",
        "n_orders",
        F.round("total_spent", 2).alias("total_spent"),
        F.round("max_order", 2).alias("max_order"),
    )
