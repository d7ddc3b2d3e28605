from clj_kinesis_to_firehose_spark.sources.loader import (
    TABLES,
    fan_out,
    load_table,
    load_tables,
    scratch_dir,
)

__all__ = [
    "TABLES",
    "fan_out",
    "load_table",
    "load_tables",
    "scratch_dir",
]
