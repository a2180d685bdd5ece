"""PySpark worker daemon that re-reads a zip on `sys.path` only when it changed.

Spark's Python worker calls `importlib.invalidate_caches()` at the start
of every task (`pyspark/worker_util.py`). On Python 3.11 that makes each
cached `zipimport.zipimporter` (one per package prefix) re-read its
archive's central directory: pyspark.zip, the py4j zip, the spark-core
jar and the shipped package zip, several times each per task. This
daemon patches only that re-read: an archive is read again when its
`os.stat` (inode, size, mtime) differs from the stamp taken at its last
read. The rest of `PathFinder.invalidate_caches` still runs.

`session.get_spark` names this module in `spark.python.daemon.module`
when the package is a directory on disk; the JVM runs it as
`python -m openocr_spark.worker_daemon`, and it hands over to
`pyspark.daemon.manager()`.
"""

import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
# archive -> stat stamp at its last directory read; process-wide, as is
# zipimport._zip_directory_cache
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # another importer of this archive may have done the re-read
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _read(self)
    _stamps[self.archive] = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # forked workers inherit warm stamps for what the daemon has read
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _stamps[finder.archive] = _stamp(finder.archive)
    # drop what launching this module added, so workers import the
    # package as stock workers do: from cwd or the shipped zip
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if parent in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        del sys.path[len(sys.path) - 1 - sys.path[::-1].index(parent)]
    for name in [m for m in sys.modules if m.split(".")[0] == "openocr_spark"]:
        del sys.modules[name]
    daemon.manager()


if __name__ == "__main__":
    main()
