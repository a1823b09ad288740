"""Python workers re-read a zip archive on ``sys.path`` only when it
changed (``cmoncrawl_spark.worker_imports``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython 3.11 that re-reads the central directory of
every cached ``zipimporter`` (16 in these workers). The rule
is installed only in a worker, never on the driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import time
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def test_second_task_rereads_no_archive(spark):
    """In a reused worker, the task's own ``invalidate_caches()`` (run
    before its UDF) re-reads no archive directory. Each task counts
    the reads since the previous task in the same worker ended."""

    def probe(rows):
        import os
        import zipimport

        import cmoncrawl_spark  # noqa: F401 — as an engine UDF's unpickling does

        list(rows)
        reads = getattr(zipimport, "_probe_reads", None)
        measured = None if reads is None else reads[0]
        if reads is None:
            reads = zipimport._probe_reads = [0]
            read_directory = zipimport._read_directory

            def counting(archive):
                reads[0] += 1
                return read_directory(archive)

            zipimport._read_directory = counting
        reads[0] = 0
        return [(os.getpid(), measured)]

    sc = spark.sparkContext
    measured: list[int] = []
    for _ in range(8):
        got = sc.parallelize(range(16), 16).mapPartitions(probe).collect()
        measured += [n for _, n in got if n is not None]
        if len(measured) >= 8:
            break
    assert measured, "no worker ran two tasks"
    assert measured == [0] * len(measured)


def test_changed_archive_is_reread(tmp_path):
    """An archive cached before the rule and older than the process is
    not re-read; one written after the process started is read once
    more; a rewritten archive is re-read and its new module imports."""
    old = tmp_path / "old.zip"
    with zipfile.ZipFile(old, "w") as z:
        z.writestr("mod_old.py", "X = 1\n")
    hour_ago = time.time() - 3600
    os.utime(old, (hour_ago, hour_ago))
    out = _python(
        f"""
        import importlib, json, os, sys, zipfile, zipimport
        from cmoncrawl_spark import worker_imports

        old, fresh = {str(old)!r}, {str(tmp_path / "fresh.zip")!r}
        with zipfile.ZipFile(fresh, "w") as z:
            z.writestr("mod_fresh.py", "Y = 2\\n")
        sys.path[:0] = [old, fresh]
        import mod_old, mod_fresh

        reads = []
        read_directory = zipimport._read_directory
        def counting(archive):
            reads.append(os.path.basename(archive))
            return read_directory(archive)
        zipimport._read_directory = counting

        def invalidate():
            importlib.invalidate_caches()
            got = sorted(reads)
            reads.clear()
            return got

        worker_imports.install()
        steps = [invalidate(), invalidate()]
        with zipfile.ZipFile(old, "w") as z:
            z.writestr("mod_old.py", "X = 1\\n")
            z.writestr("mod_added.py", "Z = 3\\n")
        steps += [invalidate(), invalidate()]
        import mod_added
        print(json.dumps([steps, mod_added.Z]))
        """
    )
    steps, z = json.loads(out)
    assert steps == [["fresh.zip"], [], ["old.zip"], []]
    assert z == 3


def test_rule_installs_only_in_a_worker():
    """Importing the package leaves ``zipimporter.invalidate_caches`` as
    the stdlib's unless ``pyspark.worker`` is loaded."""
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    probe = (
        "import cmoncrawl_spark, zipimport; "
        "print(zipimport.zipimporter.invalidate_caches.__module__)"
    )
    assert _python(probe) == "zipimport"
    in_worker = _python("import pyspark.worker; " + probe)
    assert in_worker == "cmoncrawl_spark.worker_imports"
