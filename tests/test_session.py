"""The engine's session: what ``build_spark`` sets up beyond Spark's
defaults."""

from __future__ import annotations

import os
import sys


def _installed_release_of_archive(archive: str) -> bool:
    """Whether this interpreter's installed copy of the package in one of
    Spark's source archives is the archive's release: the same
    ``<package>/version.py``."""
    import importlib.util
    import pathlib
    import zipfile

    package = "py4j" if os.path.basename(archive).startswith("py4j") else "pyspark"
    spec = importlib.util.find_spec(package)
    if not os.path.isfile(archive) or spec is None or spec.origin is None or ".zip" in spec.origin:
        return False
    installed = pathlib.Path(spec.origin).with_name("version.py").read_bytes()
    with zipfile.ZipFile(archive) as zf:
        return zf.read(f"{package}/version.py") == installed


def test_python_tasks_run_under_the_engines_daemon(spark):
    """Python workers are forked from the engine's daemon module; on
    CPython < 3.12 they keep each zip importer's directory instead of
    re-reading it at every task; and when this interpreter has the
    release of Spark's source archives installed, they import
    ``pyspark`` and ``py4j`` from that byte-compiled copy, not from the
    archives."""

    def probe(_):
        import os
        import sys
        import zipimport

        import py4j
        import pyspark

        main = sys.modules["__main__"]
        noop = getattr(main, "keep_zip_directory", None)
        archives = tuple(
            e for e in sys.path
            if os.path.basename(e) == "pyspark.zip" or os.path.basename(e).startswith("py4j-")
        )
        yield (
            main.__spec__.name,
            zipimport.zipimporter.invalidate_caches is noop,
            pyspark.__file__,
            py4j.__file__,
            archives,
        )

    reports = set(spark.sparkContext.parallelize([0, 1], 2).mapPartitions(probe).collect())
    assert {r[:2] for r in reports} == {
        ("clj_kinesis_to_firehose_spark.pyworker", sys.version_info < (3, 12))
    }
    for _, _, pyspark_file, py4j_file, archives in reports:
        assert archives  # Spark put its source archives on the path
        for archive in archives:
            if _installed_release_of_archive(archive):
                for module_file in (pyspark_file, py4j_file):
                    assert not module_file.startswith(archive + os.sep), module_file


def _site(root, package: str, release: str) -> str:
    """A directory holding an installed ``package`` of ``release``."""
    pkg = root / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f"__version__: str = {release!r}\n")
    return str(root)


def _archive(path, package: str, release: str) -> str:
    """A source archive of ``package`` at ``release``, shaped like Spark's."""
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "")
        zf.writestr(f"{package}/version.py", f"__version__: str = {release!r}\n")
    return str(path)


def test_daemon_path_moves_only_archives_of_the_installed_release(tmp_path):
    """The daemon's path choice, on synthetic path lists: a Spark source
    archive moves to the end only when the other entries import the same
    release of its package; an archive of another release, of a package
    not installed, or that cannot be read keeps its place; every other
    entry keeps its relative order."""
    from clj_kinesis_to_firehose_spark.pyworker import prefer_installed

    site = _site(tmp_path / "site", "pyspark", "4.1.2")
    other_site = _site(tmp_path / "other", "py4j", "0.10.9.9")
    (tmp_path / "lib").mkdir()
    same = _archive(tmp_path / "lib" / "pyspark.zip", "pyspark", "4.1.2")
    older = _archive(tmp_path / "lib" / "pyspark-old.zip", "pyspark", "4.0.0")
    py4j = _archive(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")
    broken = tmp_path / "bad" / "pyspark.zip"
    broken.parent.mkdir()
    broken.write_bytes(b"not a zip")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")

    # the same release installed further on: the archive moves behind it
    assert prefer_installed([a, same, b, site]) == [a, b, site, same]
    # another release keeps its place
    assert prefer_installed([a, older, b, site]) == [a, older, b, site]
    # no installed copy of its package: py4j stays, pyspark still moves
    assert prefer_installed([same, py4j, a, site, b]) == [py4j, a, site, b, same]
    # installed, same release: both move, in their own order
    assert prefer_installed([same, a, py4j, site, other_site, b]) == [
        a, site, other_site, b, same, py4j
    ]
    # an unreadable archive keeps its place
    assert prefer_installed([a, str(broken), site]) == [a, str(broken), site]
    # an entry before the archive that holds another release decides
    stale = _site(tmp_path / "stale", "pyspark", "3.5.0")
    assert prefer_installed([a, same, stale, site]) == [a, same, stale, site]


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
