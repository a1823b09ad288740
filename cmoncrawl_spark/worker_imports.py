"""Python workers stop re-reading unchanged zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``), after it
puts the task's ``--py-files`` on ``sys.path``. On CPython 3.11 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. In this engine's workers that is 16 reads
per task: 12 importers over ``pyspark.zip`` (1,328 entries, ~10.5 ms
each), 2 over ``spark-core_2.13-4.1.2.jar`` (5,359 entries, ~32 ms each)
and 2 over the py4j zip; one call took 124-224 ms inside a worker on a
4-core x86 host. CPython 3.12 made the re-read lazy (gh-103200).

The rule here: an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from what it was when that importer
last read it. A rewritten archive is therefore still re-read, and a
module added to it imports.

:func:`install` applies the rule to the ``zipimporter`` class. The
package ``__init__`` calls it only in a PySpark worker process (one
where ``pyspark.worker`` is loaded), so the driver's import machinery is
unchanged. Every engine UDF imports the package when it is unpickled,
after that task's own ``invalidate_caches()`` has re-read every cached
importer, so from a reused worker's second task on no task pays for the
re-reads.
"""

from __future__ import annotations

import os
import sys
import time
import zipimport

#: the stdlib method: re-read the archive's directory unconditionally.
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat BEFORE the read: an archive rewritten during the read keeps
    # an older stamp and is read again on the next call.
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def _process_start_ns() -> int | None:
    """Wall-clock start of this process, rounded down to a clock tick
    (an archive written in that tick counts as newer); None without
    Linux's ``/proc``."""
    try:
        with open("/proc/self/stat", "rb") as f:
            ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
        age_s = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf(
            "SC_CLK_TCK"
        )
    except (OSError, ValueError, IndexError, AttributeError):
        return None
    return time.time_ns() - int(age_s * 1e9)


def install() -> None:
    """Apply the rule to every ``zipimporter``, once per process.

    An importer cached before the rule was last read by this process's
    own ``invalidate_caches()``, which Spark runs before it unpickles a
    task's UDFs. It is stamped now only if its archive's mtime predates
    the process: an archive that changed since then is read once more.
    """
    if zipimport.zipimporter.invalidate_caches is _invalidate_if_changed:
        return
    started = _process_start_ns()
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and started is not None:
            stamp = _stamp(finder.archive)
            if stamp is not None and stamp[0] < started:
                finder._read_stamp = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
