"""Python worker daemon that imports pyspark from the installed package.

Spark launches its Python workers with ``PYTHONPATH`` led by
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar. pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and on
Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory: 16
importers (one per pyspark package dir, two for py4j, two for the jar)
and ~26k entries, 0.13–0.23 s of every task on a 4-vCPU box.

:func:`qdrant_spark.session.get_spark` sets this module as
``spark.python.daemon.module``. Before pyspark is imported it drops Spark's
own archives from ``sys.path``, so pyspark and py4j come from the installed
packages and no task re-reads an archive. It does so only when the
installed pyspark is the archive's release (``pyspark/version.py``
byte-identical) and py4j is installed too; otherwise it keeps the path
unchanged and writes one line to stderr saying why. Archives that hold any
other top-level Python module (a user's ``--py-files`` zip) always stay.
The forked workers inherit the daemon's ``sys.path``.

Run as ``python -m qdrant_spark._pydaemon <worker module>``, as Spark does.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

#: the top-level modules Spark's own archives carry
_SPARK_MODULES = frozenset({"pyspark", "py4j"})
_VERSION_FILE = "pyspark/version.py"


def _archive_modules(names: list[str]) -> set[str]:
    """Top-level Python module names among an archive's member names."""
    return {n.split("/", 1)[0].split(".", 1)[0]
            for n in names if n.endswith((".py", ".pyc"))}


def worker_path(path: list[str]) -> tuple[list[str], str | None]:
    """``path`` without Spark's own archives, and ``None``; or ``path``
    unchanged and the reason it was kept (``None`` when it holds no
    archive of Spark's).

    An archive is a file entry of ``path``. It is Spark's own when every
    top-level Python module it holds is pyspark or py4j (the spark-core
    jar holds none). They are dropped only when the pyspark that the rest
    of ``path`` resolves has a ``pyspark/version.py`` byte-identical to
    the archive's, and the rest resolves py4j too."""
    spark_archives, archive_version = [], None
    for entry in path:
        if not os.path.isfile(entry):
            continue
        try:
            with zipfile.ZipFile(entry) as z:
                names = z.namelist()
                if archive_version is None and _VERSION_FILE in names:
                    archive_version = z.read(_VERSION_FILE)
        except (OSError, zipfile.BadZipFile):
            continue
        if _archive_modules(names) <= _SPARK_MODULES:
            spark_archives.append(entry)
    if not spark_archives:
        return path, None
    if archive_version is None:
        return path, "no archive on the path holds pyspark"
    rest = [p for p in path if p not in spark_archives]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return path, "no installed pyspark outside the archives"
    installed = os.path.join(spec.submodule_search_locations[0],
                             "version.py")
    try:
        with open(installed, "rb") as f:
            same = f.read() == archive_version
    except OSError:
        same = False
    if not same:
        return path, f"{installed} differs from the archive's {_VERSION_FILE}"
    if PathFinder.find_spec("py4j", rest) is None:
        return path, "no installed py4j outside the archives"
    return rest, None


def _use_installed_pyspark() -> None:
    """Apply :func:`worker_path` to this process's ``sys.path`` and drop
    the dropped archives' importers from ``sys.path_importer_cache``."""
    new_path, kept = worker_path(sys.path)
    if kept is not None:
        sys.stderr.write(f"qdrant_spark._pydaemon: keeping the archives on "
                         f"sys.path: {kept}\n")
        return
    dropped = [p for p in sys.path if p not in new_path]
    sys.path[:] = new_path
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _use_installed_pyspark()
    from pyspark import daemon

    daemon.manager()
