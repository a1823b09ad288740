"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. ``--workload all`` runs every workload
in turn and prints one summary line each. One run is one fresh Python
driver and one fresh JVM on ``local[nproc]``:

1. generate the workload's inputs from ``--seed`` into a work directory
   under ``.perfbench/`` (not timed);
2. start the session, build program-side state and run the warm-up
   ops; all of that is ``setup_s``;
3. run ops back to back (closed loop) for ``--seconds`` and at least the
   workload's ``min_ops`` ops, whichever takes longer;
4. check every op's output (not timed).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same loop with a Spark event log, then one more op split into per-layer
spans, and reports the per-layer metrics instead. The last stdout line
is the JSON result; the lines before it give the input digest, the op
times, ``failed_frac`` and the host's CPU steal during the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: (name, unit, better) — the end-to-end metrics of every workload.
END_TO_END = [
    ("items_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ok_frac", "ratio", "higher"),
]

#: driver heap. The package defaults to 8g; 1g holds every workload here
#: and leaves room for other processes on a shared host. The initial heap
#: is set to the same size: otherwise G1 grows the heap when its measured
#: GC time is high, so the JVM's RSS, and with it ``peak_rss_mb``, depends
#: on how loaded the host was (702-897 MB of committed heap over three
#: runs of one input on a 4-vCPU VM, against 1024 MB in every run with
#: ``-Xms`` set).
DRIVER_MEMORY = "1g"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file per JVM
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts)))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _spark(work: str, trace: bool, cores: int):
    from cmoncrawl_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _stop(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    forked have exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    from perfbench.rss import tree_pids

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _traced_layers(wl, tracer, session_s: float, op_s: float) -> dict[str, float]:
    """Per-layer values from one traced op, after the untraced window;
    layers the workload never calls stay 0."""
    from perfbench.tracing import LAYER_METRICS

    layers = {name: 0.0 for name, _u, _b in LAYER_METRICS}
    layers["session.start_s"] = session_s
    t = time.monotonic()
    df = wl.plan_df()
    layers["plan.build_s"] = time.monotonic() - t
    t = time.monotonic()
    df._jdf.queryExecution().executedPlan()
    layers["plan.catalyst_s"] = time.monotonic() - t
    measured = wl.traced(tracer)
    unknown = set(measured) - set(layers)
    if unknown:
        raise KeyError(f"traced metrics missing from LAYER_METRICS: {sorted(unknown)}")
    layers.update(measured)
    layers["trace.untraced_op_s"] = op_s
    layers["trace.overhead_ratio"] = layers["trace.op_s"] / op_s
    return layers


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench import inputs
    from perfbench.rss import PeakRssSampler
    from perfbench.tracing import LAYER_METRICS, Tracer, event_log_metrics
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    phases = {}
    t = time.monotonic()
    inp = os.path.join(work, "inputs")
    info = inputs.GENERATORS[workload](seed, inp)
    digest = inputs.digest_dir(inp)
    phases["inputs"] = time.monotonic() - t

    steal0, total0 = _cpu_ticks()
    sampler = PeakRssSampler(os.getpid()).start()
    t0 = time.monotonic()
    spark = _spark(work, trace, cores)
    session_s = time.monotonic() - t0
    wl = WORKLOADS[workload](spark, inp, work, info)
    wl.setup()
    wl.warm()
    setup_s = time.monotonic() - t0

    times, results, failed = [], [], 0
    w0_ms = time.time() * 1000
    start = time.monotonic()
    while time.monotonic() - start < seconds or len(times) + failed < wl.min_ops:
        t = time.monotonic()
        try:
            results.append(wl.op())
        except Exception:  # an op that raises counts as failed; keep measuring
            traceback.print_exc()
            failed += 1
            continue
        times.append(time.monotonic() - t)
    w1_ms = time.time() * 1000
    phases["window"] = time.monotonic() - start
    attempted = len(times) + failed
    t = time.monotonic()
    problems = wl.verify(results)
    for p in problems:
        if p:
            print(f"perfbench: verification failed: {p}", file=sys.stderr)
    failed += sum(1 for p in problems if p)
    op_s = statistics.median(times) if times else float("inf")
    items = wl.item_count()
    phases["verify"] = time.monotonic() - t

    layers: dict[str, float] = {}
    t = time.monotonic()
    if trace:
        tracer = Tracer()
        layers = _traced_layers(wl, tracer, session_s, op_s)
    phases["traced"] = time.monotonic() - t
    t = time.monotonic()
    _stop(spark)
    peak = sampler.stop()
    phases["stop"] = time.monotonic() - t
    if trace:
        # per op of the untraced window; the log is complete once stopped
        engine = event_log_metrics(os.path.join(work, "eventlog"), w0_ms, w1_ms, cores)
        n = max(len(times), 1)
        layers.update({k: v if k == "spark.cpu_util" else v / n for k, v in engine.items()})
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{workload}-s{seed}.json"), layers)

    print(
        f"perfbench: workload={workload} seed={seed} input_digest={digest} "
        f"items_per_op={items} ops={len(times)} op_s={[round(x, 3) for x in times]}"
    )
    phases["setup"] = setup_s
    steal1, total1 = _cpu_ticks()
    print(f"perfbench: failed_frac={failed / max(attempted, 1)}")
    print("perfbench: phase_s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    # share of this machine's CPU time the hypervisor took (steal) during the run
    print(f"perfbench: host_steal_frac={(steal1 - steal0) / max(total1 - total0, 1):.3f}")
    if trace:
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _b in LAYER_METRICS}
    else:
        values = {
            "items_per_s": items / op_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak / 2**20,
            "ok_frac": (attempted - failed) / max(attempted, 1),
        }
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _b in END_TO_END}
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": metrics,
    }


def run_all(args) -> int:
    """``--workload all``: every workload in its own process, one summary
    line each."""
    from perfbench.workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name]
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"{name}: exit code {out.returncode}")
            code = 1
            continue
        result = json.loads(lines[-1])
        fields = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in result["metrics"].items()]
        fields.append(f"failed_frac={result['failed'] / result['attempted']:.6g} ratio")
        print(f"{name}: correct={result['correct']} " + " ".join(fields))
        code |= not result["correct"]
    return code


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "cmoncrawl_spark")):
        print(f"perfbench: no cmoncrawl_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
