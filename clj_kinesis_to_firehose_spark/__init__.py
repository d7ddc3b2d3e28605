"""PySpark-native analytics engine with the query/data-processing
capabilities of ``adtile/clj-kinesis-to-firehose``, re-expressed
Spark-first (DataFrame / SQL / Structured Streaming).

The reference (empty at survey time — see SURVEY.md §0) is a
Kinesis→Firehose record bridge; public knowledge of that domain
(AWS Kinesis/Firehose API contracts) plus the driver's fixture star
schema define the capability surface implemented here. See
SURVEY.md §2 for the operator inventory this package fulfills.

Layout:
  session.py    SparkSession builder (ns-timestamp shim conf, AQE, Arrow)
  registry.py   operator registration → queries() / oracle_sql()
  sources/      batch loaders (parquet + events ns shim) and stream sources
  operators/    SURVEY §2 operator inventory, grouped by category
  functions/    reusable column-expression helpers (vectors, text)
  streaming/    Firehose-batched sink + bounded stream runners (A4-A7, I4-I7)
  plans/        plan-inspection helpers (explain/shuffle audits)
"""

__version__ = "0.1.0"
