"""The engine's session: what ``build_spark`` sets up beyond Spark's
defaults."""

from __future__ import annotations

import sys


def test_python_tasks_run_under_the_engines_daemon(spark):
    """Python workers are forked from the engine's daemon module, and on
    CPython < 3.12 they keep each zip importer's directory instead of
    re-reading it at every task."""

    def probe(_):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        noop = getattr(main, "keep_zip_directory", None)
        yield main.__spec__.name, zipimport.zipimporter.invalidate_caches is noop

    reports = set(spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe).collect())
    assert reports == {("clj_kinesis_to_firehose_spark.pyworker", sys.version_info < (3, 12))}
