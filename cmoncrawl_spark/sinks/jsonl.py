"""Sinks (SURVEY §2 K1-K2).

K1 — JSONL with rotation: the reference streams one sorted-keys JSON
object per line, rotating files every ``max_file_size`` records
(/root/reference/cmoncrawl/processor/pipeline/streamer.py:187-212,
rotation :133-159; ``sort_keys=True, ensure_ascii=False, default=str``
at :205-212).

Spark-first: rotation is the ``maxRecordsPerFile`` write option (the
executor-side equivalent of the reference's counter), and the exact
line format is ``to_json(struct(<columns sorted by name>))`` — JVM
serialization, no Python. Key order inside nested maps follows column
order, which we pin by sorting column names — matching
``sort_keys=True`` for flat records.

K2 — per-record HTML files: partitioned text write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cmoncrawl_spark.functions.scalars import name_mangle


def jsonl_lines(df: DataFrame) -> DataFrame:
    """One sorted-keys JSON string per row (column ``value``)."""
    return df.select(F.to_json(F.struct(*sorted(df.columns))).alias("value"))


def write_jsonl(
    df: DataFrame,
    path: str,
    max_file_size: int = 500_000,
) -> None:
    """K1 — rotated JSONL. max_file_size mirrors the reference default
    of 500k records/file (integrations/download.py:52-57)."""
    (
        jsonl_lines(df)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_file_size)
        .text(path)
    )


def write_html_files(df: DataFrame, path: str) -> None:
    """K2 — one html FILE per (url, html) record; name =
    :func:`name_mangle` of the url (reference streamer.py:215-229 writes
    ``directory / f"{name}.html"`` per record).

    Spark analog: a ``foreachPartition`` writer — each task streams its
    rows to ``<path>/<name>.html``. NOT ``partitionBy(name)``: a
    partitioned write creates one DIRECTORY (+ metadata) per record —
    a metadata bomb at any real scale (10k records = 10k partition
    dirs in the table listing). ``path`` must be storage every
    executor can reach (shared/NFS mount locally, fuse-mounted object
    store on a cluster); duplicate names overwrite, matching the
    reference's single-directory behavior.

    Overwrite semantics are GUARDED: stale ``*.html`` files from a
    previous run are removed first, but only when the directory is
    empty, absent, or carries the sink's marker file (written on every
    run) — a mistyped ``path`` pointing at an unrelated directory
    raises instead of silently destroying it, and removal errors
    surface (no ``ignore_errors``) so "stale files linger despite the
    overwrite contract" can't happen silently.
    """
    marker = os.path.join(path, ".cmoncrawl_html_sink")
    if os.path.isdir(path):
        entries = os.listdir(path)
        if entries and not os.path.exists(marker):
            raise ValueError(
                f"write_html_files: refusing to overwrite non-empty "
                f"directory {path!r} that was not written by this sink "
                "(no .cmoncrawl_html_sink marker); choose an empty or "
                "sink-owned directory"
            )
        for entry in entries:
            if entry.endswith(".html"):
                os.remove(os.path.join(path, entry))
    os.makedirs(path, exist_ok=True)
    with open(marker, "w", encoding="utf-8") as f:
        f.write("")
    named = df.select(
        name_mangle(F.col("url")).alias("name"),
        F.col("html").cast("string").alias("value"),
    )

    def _write(rows) -> None:
        for row in rows:
            fn = os.path.join(path, f"{row['name']}.html")
            with open(fn, "w", encoding="utf-8") as f:
                f.write(row["value"] or "")

    named.foreachPartition(_write)


def count_output_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(
            1 for f in files if f.startswith("part-") and not f.endswith(".crc")
        )
    return n
