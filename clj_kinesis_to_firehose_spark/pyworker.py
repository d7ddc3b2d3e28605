"""The Python daemon of the engine's sessions (``spark.python.daemon.module``,
set by :func:`session.build_spark`): PySpark's own daemon, less one
fixed cost per task.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task. On CPython 3.10-3.11 that re-reads the central directory of every
zip archive on the worker's import path (pyspark.zip alone has 1328
entries): a trivial two-task job on a 4-vCPU host took ~190 ms under
PySpark's daemon and ~120 ms under this one. CPython 3.12 made the
re-read lazy; here it becomes a no-op, as on CPython 3.9 and earlier.
The difference shows only if an archive is rewritten in place during a
worker's life, and Spark refuses to re-add a file of the same name.
"""

import sys
import zipimport


def keep_zip_directory(importer):
    """``zipimporter.invalidate_caches`` as of CPython 3.9: keep the
    directory read when the importer was made."""


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = keep_zip_directory
    from pyspark.daemon import manager

    manager()
