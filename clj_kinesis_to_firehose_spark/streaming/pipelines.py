"""The bounded runners of Structured Streaming queries (SURVEY.md §2
I4-I7, A4-A7) and the epoch-keyed micro-batch output.

Every streaming operator runs bounded here: a file replay drained by
:func:`run_bounded` (fresh scratch checkpoint + availableNow), then
the materialized result is returned so the driver's rows-only check
and pytest can assert on it; the identical plan runs unbounded
against a Kinesis source in production. A ``foreachBatch`` operator
that keeps per-batch partials runs through :func:`run_epochs`, and a
growing index written batch by batch goes through
:func:`write_epoch` / :func:`read_epochs`: the ``epoch_{n}``
directory format is defined here and nowhere else. The pipelines
themselves are registered where they are built
(``operators/streaming_ops.py`` and the other operator modules).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

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


def _epoch_dir(root: str, epoch: int) -> str:
    return os.path.join(root, f"epoch_{epoch}")


def write_epoch(root: str, epoch: int, df: DataFrame) -> None:
    """Write ``df`` as micro-batch ``epoch``'s output under ``root``,
    replacing whatever an earlier attempt of that epoch wrote."""
    df.write.mode("overwrite").parquet(_epoch_dir(root, epoch))


def read_epochs(
    spark: SparkSession,
    root: str,
    schema: StructType | str | None = None,
    before: int | None = None,
) -> DataFrame:
    """The rows :func:`write_epoch` wrote under ``root`` — with
    ``before``, only those of epochs numbered below it (``epoch_10``
    is later than ``epoch_2``). The epoch directories are listed here,
    once, so a micro-batch reading the epochs before its own never
    lists its own directory, which its overwrite deletes on a re-run.
    With no epoch to read, the frame is empty and has ``schema``;
    ``schema=None`` takes it from the files."""
    epochs = sorted(
        int(name[len("epoch_"):])
        for name in os.listdir(root)
        if name.startswith("epoch_")
    )
    paths = [_epoch_dir(root, n) for n in epochs if before is None or n < before]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def run_epochs(
    stream: DataFrame, partial: Callable[[DataFrame, int], DataFrame]
) -> DataFrame:
    """THE epoch-keyed micro-batch output: runs ``stream`` bounded,
    writes each micro-batch's ``partial(batch_df, epoch)`` to its own
    epoch directory, and returns the rows of every epoch read back.

    Delivery is at-least-once: after a failure, Spark re-executes the
    last micro-batch under the same epoch id. Because each epoch's
    rows overwrite that epoch's directory instead of appending to a
    shared one, a re-executed batch rewrites the same rows in the same
    place, and the read-back holds every batch's rows exactly once
    (Structured Streaming's idempotent-sink contract). A partial that
    needs its epoch number carries it as a column; one that also grows
    an index writes it with :func:`write_epoch` and reads the epochs
    before its own with :func:`read_epochs`."""
    root = scratch_dir("kf_epochs_")

    def write(batch_df: DataFrame, epoch: int) -> None:
        write_epoch(root, epoch, partial(batch_df, epoch))

    run_bounded(stream.writeStream.foreachBatch(write))
    return read_epochs(stream.sparkSession, root)
