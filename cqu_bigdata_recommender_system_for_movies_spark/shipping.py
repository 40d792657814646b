"""Ship this package to Spark's Python workers, and keep a reused worker's
per-task zip-import cost flat.

Any pandas-UDF closure defined in this package is pickled *by reference*
(module + qualname), so executor-side Python workers must be able to import
the package — true on a real cluster (where code is distributed as an
archive) and NOT guaranteed locally when the driver process starts outside
the repo. ``ensure_shipped`` registers the package zip with ``addPyFile``
once per session, exactly how a 1000-executor deployment would ship it. The
zip is written once per process to a private temp file and removed when the
process exits.

Zip-directory guard. A reused Python worker runs
``pyspark.worker_util.setup_spark_files`` at the start of every task, and
that calls ``importlib.invalidate_caches()``. Before Python 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a serving worker holds 16-17 importers, one
per package directory it imported from, nearly all on the ~1,670-entry
``pyspark.zip``: 0.11-0.20 s of CPU per task, measured in a worker on a
4-core x86 host, the same for 50 rows as for 12,500.
Python 3.12 made the call a cheap cache drop, so there nothing is
installed. Below 3.12, importing this module (the package ``__init__``
does) replaces the method with one that skips the re-read while the
archive's ``st_mtime_ns``, ``st_ctime_ns``, ``st_size`` and ``st_ino``
equal what that importer saw at its last re-read. An importer's first
call, a changed archive and a failing ``stat`` take the original path, so
an archive rewritten in place is still picked up (one rewritten to the
same size within one file-timestamp tick is not).

Scope: the guard lives in the process that imported this package. A
worker that unpickles an engine UDF (the nearcell probes in serving and on
the ANN write path, the interest fold's ``applyInPandasWithState``,
fold-in's ``applyInPandas``) imports it during its first task, re-reads
once more at the start of its second, and skips from the third on. A
closure pickled by value that references no engine global, like
``udaf_weighted_mean``'s ``wavg``, benefits only once its worker has
imported the engine for some other UDF.
"""

from __future__ import annotations

import atexit
import os
import sys
import tempfile
import zipfile

from pyspark.sql import SparkSession

# applicationIds of the contexts the package was shipped to. Not an
# id(): CPython reuses a freed object's id, so a restarted context could
# pass for a shipped one and its workers could not import the engine.
_SHIPPED_SESSIONS: set[str] = set()

# This process's package zip: written once, to a fresh ``mkstemp`` name,
# and removed at exit. A name derived from the pid could be a file that
# another process (another checkout) left behind under a recycled pid.
_ZIP_PATH: str | None = None


def _remove_zip(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _package_zip() -> str:
    global _ZIP_PATH
    if _ZIP_PATH is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, path = tempfile.mkstemp(prefix=f"{pkg_name}_", suffix=".zip")
        atexit.register(_remove_zip, path)
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.join(pkg_name, os.path.relpath(full, pkg_dir)))
        _ZIP_PATH = path
    return _ZIP_PATH


def ensure_shipped(spark: SparkSession) -> None:
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED_SESSIONS.add(key)


def _install_zip_directory_guard() -> None:
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            # the re-read below may empty the importer; forget the stamp
            # so the next call re-reads even if the stat matches again
            self.__dict__.pop("_dir_stamp", None)
            reread(self)
            return
        # stat BEFORE the read: a rewrite racing the read changes the
        # stamp, so the next call re-reads instead of keeping a torn view
        stamp = (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)
        if getattr(self, "_dir_stamp", None) == stamp:
            return
        reread(self)
        self._dir_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _install_zip_directory_guard()
