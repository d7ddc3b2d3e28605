"""The bounded runners of Structured Streaming queries (SURVEY.md §2
I4-I7, A4-A7).

Every streaming operator runs bounded here: a file replay drained by
:func:`run_bounded` (fresh scratch checkpoint + availableNow), then
the materialized result is returned so the driver's rows-only check
and pytest can assert on it; the identical plan runs unbounded
against a Kinesis source in production. The pipelines themselves are
registered where they are built (``operators/streaming_ops.py`` and
the other operator modules).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from clj_kinesis_to_firehose_spark.sources import scratch_dir


def run_bounded(writer: DataStreamWriter) -> StreamingQuery:
    """THE bounded run of a checkpointed stream: ``writer`` (sink,
    output mode, query name already set) gets a fresh scratch
    checkpoint and the availableNow trigger, which drains everything
    available at start — honouring the source's per-trigger limits
    such as ``maxFilesPerTrigger`` — and stops. Returns the terminated
    query (for ``recentProgress``); a failed query re-raises as
    ``StreamingQueryException``."""
    q = (
        writer.option("checkpointLocation", scratch_dir("kf_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a bounded stream into a memory sink, return the result table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    run_bounded(
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    return stream_df.sparkSession.table(name)
