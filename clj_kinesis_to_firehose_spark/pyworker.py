"""The Python daemon of the engine's sessions (``spark.python.daemon.module``,
set by :func:`session.build_spark`): PySpark's own daemon, less two
fixed costs.

**Bytecode instead of Spark's source archives.** Spark starts the
daemon with its ``pyspark.zip`` and ``py4j-*-src.zip`` first on the
path. zipimport never caches bytecode, so every daemon recompiled
``pyspark`` and ``py4j`` from source before it could fork a worker,
and every forked worker did the same again for ``pyspark.sql.pandas``
at its first Arrow task. When the interpreter has the same release
installed (its ``<package>/version.py`` equals the archive's), the
daemon moves the archive to the end of its path before it imports
``pyspark.daemon``, so it loads the installed, byte-compiled copy;
forked workers inherit that path and those modules. Otherwise (no
installed copy, another release, an unreadable archive) the path stays
exactly as Spark built it. On a 4-core host, with the JVM running, a
fresh ``build_spark`` session's first Python task took 0.34-0.52 s
instead of 1.16-1.59 s, and its first ``mapInArrow`` task after that
0.45-0.64 s instead of 1.27-1.65 s.

The daemon does not pre-import ``pyarrow`` or ``pandas``: that would
move each worker's ~0.3-0.4 s import of them at its first Arrow task
into the first task of every session, Arrow or not.

**Zip directories read once.** PySpark calls
``importlib.invalidate_caches()`` at the start of every task. On
CPython 3.10-3.11 that re-reads the central directory of every zip
archive on the worker's import path (pyspark.zip alone has 1328
entries): a trivial two-task job on a 4-vCPU host took ~190 ms under
PySpark's daemon and ~120 ms under this one. CPython 3.12 made the
re-read lazy; here it becomes a no-op, as on CPython 3.9 and earlier.
The difference shows only if an archive is rewritten in place during a
worker's life, and Spark refuses to re-add a file of the same name.
"""

import fnmatch
import os
import sys
import zipimport
from importlib.machinery import PathFinder

#: Spark's source archives on the workers' path, by file name, and the
#: package each one holds.
SPARK_ARCHIVES = {"pyspark*.zip": "pyspark", "py4j-*-src.zip": "py4j"}


def archive_package(entry):
    """The package a path entry holds if it is one of Spark's source
    archives, else None."""
    name = os.path.basename(entry)
    for pattern, package in SPARK_ARCHIVES.items():
        if fnmatch.fnmatch(name, pattern):
            return package
    return None


def installed_release(package, entries):
    """``<package>/version.py`` of the copy ``entries`` would import, found
    without importing it; None if there is none or it cannot be read."""
    spec = PathFinder.find_spec(package, entries)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def archive_release(entry, package):
    """``<package>/version.py`` inside a source archive; None if the
    archive or the file cannot be read."""
    try:
        return zipimport.zipimporter(entry).get_data(f"{package}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def prefer_installed(path):
    """``path`` with each of Spark's source archives moved to the end
    when the other entries import the same release of its package;
    every other entry keeps its relative order."""
    others = [e for e in path if archive_package(e) is None]
    behind = []
    for entry in path:
        package = archive_package(entry)
        if package is None:
            continue
        installed = installed_release(package, others)
        if installed is not None and installed == archive_release(entry, package):
            behind.append(entry)
    return [e for e in path if e not in behind] + behind


def keep_zip_directory(importer):
    """``zipimporter.invalidate_caches`` as of CPython 3.9: keep the
    directory read when the importer was made."""


if __name__ == "__main__":
    sys.path[:] = prefer_installed(sys.path)
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = keep_zip_directory
    from pyspark.daemon import manager

    manager()
