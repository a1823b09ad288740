"""Traced-run tooling: spans, a timing StateStore, the event-log parser
and the list of per-layer metrics.

Spans are recorded from the benchmark's side of each layer call. Spark
is lazy, so a layer span ends with an eager ``localCheckpoint`` of that
layer's output, and the next layer is built on the checkpoint. Spans and
counts stay in memory until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from cmoncrawl_spark.streaming.rounds import StateStore

#: (name, unit, better). Layers a workload never calls read 0 on it.
#: perfbench/LAYERS.md maps each one to the end-to-end metric and
#: workload it should move.
LAYER_METRICS = [
    ("session.start_s", "s", "lower"),
    ("plan.build_s", "s", "lower"),
    ("plan.catalyst_s", "s", "lower"),
    ("frontier.canonicalize_s", "s", "lower"),
    ("frontier.dedupe_s", "s", "lower"),
    ("frontier.intra_dup_ratio", "ratio", "lower"),
    ("frontier.topk_s", "s", "lower"),
    ("frontier.scheduled", "count", "higher"),
    ("bloom.build_s", "s", "lower"),
    ("bloom.shard_bytes", "bytes", "lower"),
    ("bloom.probe_s", "s", "lower"),
    ("bloom.confirm_s", "s", "lower"),
    ("bloom.positives", "count", "lower"),
    ("bloom.confirmed", "count", "higher"),
    ("bloom.realized_fpr", "ratio", "lower"),
    ("rounds.round_s.first", "s", "lower"),
    ("rounds.round_s.median", "s", "lower"),
    ("rounds.round_s.last", "s", "lower"),
    ("rounds.last_over_first", "ratio", "lower"),
    ("rounds.write_s.fetch_list", "s", "lower"),
    ("rounds.write_s.seen_delta", "s", "lower"),
    ("rounds.write_s.bloom_shards", "s", "lower"),
    ("rounds.write_s.metrics", "s", "lower"),
    ("rounds.state_files", "count", "lower"),
    ("rounds.state_bytes", "bytes", "lower"),
    ("sources.read_s", "s", "lower"),
    ("sources.fetch_s", "s", "lower"),
    ("sources.bytes_read", "bytes", "lower"),
    ("sources.records", "count", "higher"),
    ("routing.route_s", "s", "lower"),
    ("routing.share.news", "ratio", "higher"),
    ("routing.share.blog", "ratio", "higher"),
    ("routing.share.shop", "ratio", "higher"),
    ("routing.share.page", "ratio", "higher"),
    ("extraction.extract_s", "s", "lower"),
    ("extraction.out_ratio", "ratio", "higher"),
    ("extraction.encoding_fallbacks", "count", "lower"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.files", "count", "lower"),
    ("dedup.lsh_s", "s", "lower"),
    ("dedup.candidates", "count", "lower"),
    ("dedup.pairs_s", "s", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_ratio", "ratio", "higher"),
    ("dedup.cc_s", "s", "lower"),
    ("dedup.cc_iterations", "count", "lower"),
    ("dedup.persisted_rdds_after_op", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.jvm_gc_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.cpu_util", "ratio", "higher"),
    ("trace.op_s", "s", "lower"),
    ("trace.untraced_op_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]


class Tracer:
    """In-memory spans ``(name, start, end, parent)``.

    Thread-safe: the crawl's state writes run on a thread pool."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            with self._lock:
                self.spans.append(
                    {"name": name, "start": start, "end": end, "parent": parent}
                )

    def duration(self, name: str) -> float:
        """Summed duration of every span with this name."""
        with self._lock:
            return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, values: dict[str, float]) -> None:
        """Write the spans and the run's per-layer values as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "values": values}, f, indent=1)


class TimedStateStore(StateStore):
    """StateStore that records a span per ``write`` and per
    ``commit_round``; the time between commit markers is a round."""

    def __init__(self, spark, state_dir: str, tracer: Tracer, op: str) -> None:
        super().__init__(spark, state_dir)
        self.tracer = tracer
        self.op = op
        self.started = time.monotonic()
        self.commits: list[float] = []

    def write(self, name, round_id, df) -> None:
        with self.tracer.span(f"rounds.write.{name}", parent=f"{self.op}/round{round_id}"):
            super().write(name, round_id, df)

    def commit_round(self, round_id, info) -> None:
        with self.tracer.span("rounds.commit", parent=f"{self.op}/round{round_id}"):
            super().commit_round(round_id, info)
        self.commits.append(time.monotonic())

    def round_seconds(self) -> list[float]:
        marks = [self.started] + self.commits
        return [b - a for a, b in zip(marks, marks[1:])]


def round_metrics(round_s: list[float]) -> dict[str, float]:
    return {
        "rounds.round_s.first": round_s[0],
        "rounds.round_s.median": statistics.median(round_s),
        "rounds.round_s.last": round_s[-1],
        "rounds.last_over_first": round_s[-1] / round_s[0],
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's .crc side files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _event_lines(log_dir: str):
    """Lines of every event file under ``log_dir``; Spark 4 writes a
    rolling log (a directory of ``events_N_*`` files) per application."""
    for root, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if not name.startswith("events_"):  # appstatus marker, .crc files
                continue
            with open(os.path.join(root, name)) as f:
                yield from f


def event_log_metrics(log_dir: str, t0_ms: float, t1_ms: float, cores: int) -> dict[str, float]:
    """Sum jobs, stages, tasks and task metrics from an uncompressed
    Spark event log, over work that started in ``[t0_ms, t1_ms]``
    (epoch milliseconds)."""
    jobs = stages = tasks = 0
    run_ms = cpu_ns = gc_ms = sh_read = sh_write = spill = 0
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs += t0_ms <= ev["Submission Time"] <= t1_ms
        elif kind == "SparkListenerStageCompleted":
            sub = ev["Stage Info"].get("Submission Time", 0)
            stages += t0_ms <= sub <= t1_ms
        elif kind == "SparkListenerTaskEnd":
            if not t0_ms <= ev["Task Info"]["Launch Time"] <= t1_ms:
                continue
            tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            r = m.get("Shuffle Read Metrics", {})
            sh_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            sh_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    wall_s = max(t1_ms - t0_ms, 1) / 1000
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.jvm_gc_s": gc_ms / 1000,
        "spark.shuffle_read_bytes": sh_read,
        "spark.shuffle_write_bytes": sh_write,
        "spark.spill_bytes": spill,
        "spark.cpu_util": cpu_ns / 1e9 / (wall_s * cores),
    }
