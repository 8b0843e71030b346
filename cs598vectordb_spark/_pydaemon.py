"""Python worker daemon for the engine's sessions.

PySpark calls `importlib.invalidate_caches()` before every task
(`worker_util.setup_spark_files`). On Python 3.11 every `zipimporter` in
`sys.path_importer_cache` then re-reads its archive's whole directory, and
`pyspark.zip` leaves ~16 of them: 0.1–0.2 s per task before the task's
function runs. This daemon re-reads an archive only when its
`(st_mtime_ns, st_size, st_ino)` differs from the last read, or when it
cannot be stat'ed, and otherwise runs `pyspark.daemon` unchanged. An
archive rewritten in place to the same size within one tick of the file
system's timestamp clock is not seen, as with `.pyc` source checks.

`session.get_spark` names this module in `spark.python.daemon.module`.
"""

import os
import zipimport

_read_directory_always = zipimport.zipimporter.invalidate_caches
_stat_at_read: dict[str, tuple[int, int, int]] = {}


def invalidate_caches_if_changed(self) -> None:
    """`zipimporter.invalidate_caches` that keeps an unchanged archive's
    cached directory."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stat_at_read.pop(self.archive, None)
        return _read_directory_always(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stat_at_read.get(self.archive) == key:
        self._files = files
        return
    # stat before the read: an archive replaced during it is read again
    _read_directory_always(self)
    _stat_at_read[self.archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    from pyspark import daemon

    daemon.manager()
