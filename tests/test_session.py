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


def test_python_tasks_run_from_outside_the_repository(tmp_path):
    """A session built from another working directory, with the package
    only on the driver's ``sys.path`` (no ``PYTHONPATH``), still runs
    Python tasks: the workers find the engine's daemon module."""
    import os
    import pathlib
    import subprocess

    repo = pathlib.Path(__file__).resolve().parent.parent
    script = (
        f"import sys; sys.path.insert(0, {str(repo)!r})\n"
        "from clj_kinesis_to_firehose_spark.session import build_spark\n"
        "spark = build_spark('elsewhere', cpus=1)\n"
        "print(spark.sparkContext.parallelize([1, 2], 1).map(lambda x: x + 1).collect())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.strip().splitlines()[-1] == "[2, 3]"


def test_streaming_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """Streaming checkpoints of the engine's sessions go through Spark's
    ``FileSystem``-based manager, which on the local filesystem forks
    far fewer processes per log entry. The class named in the conf
    must load: a Spark upgrade that moves it (as 4.1 moved
    it into ``…streaming.checkpointing``) fails here by name, not as
    every streaming query failing to start."""
    from clj_kinesis_to_firehose_spark.session import CHECKPOINT_FILE_MANAGER

    jvm = spark._jvm
    assert jvm.java.lang.Class.forName(CHECKPOINT_FILE_MANAGER).getName() == CHECKPOINT_FILE_MANAGER
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER
