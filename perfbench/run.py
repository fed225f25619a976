#!/usr/bin/env python3
"""Crawler benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
(items_per_s, step_p50_ms, live_heap_mb, setup_s); ``--trace 1`` runs the
same workload traced, replays each operator alone, and prints the
per-layer metrics. Either way the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; a JSON record of host
noise (CPU steal, calibration probes, process-tree CPU and PSS) goes to
stderr. Everything the run writes lives under ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_wide", "crawl_polite", "url_db_stream")
CORES = 4  # the session runs on local[4]


def _metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` (end_to_end or per_layer), as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _heap_mb() -> int:
    """Driver heap pinned to a quarter of host memory, 1-2 GB: the
    program's 16 GB default can exceed the host and makes peak memory
    wander from run to run."""
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return max(1024, min(2048, total_mb // 4 // 256 * 256))


def _environment(work: str) -> None:
    """Deployment settings the program already reads, set before its JVM
    starts: pinned heap, scratch and warehouse inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = _heap_mb()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        [
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "spark.ui.showConsoleProgress=false",
            "spark.ui.retainedJobs=1000000",
            "spark.ui.retainedStages=1000000",
            "spark.sql.streaming.stopTimeout=60s",
        ]
    )


def _result(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def _end_to_end(phase, setup_s: float) -> dict[str, float]:
    import tracing

    return {
        "items_per_s": (
            tracing.median(phase.step_rates)
            if phase.step_rates
            else phase.items / phase.wall_s if phase.wall_s else 0.0
        ),
        "step_p50_ms": tracing.median(phase.steps_s) * 1000,
        "live_heap_mb": phase.live_heap_mb,
        "setup_s": setup_s,
    }


def _traced(wl, seconds: float, spark):
    """Traced phase, then the replays. The tracer's own time on the
    driver's critical path is the trace overhead; the phase's end-to-end
    figures are reported too, to set against the untraced runs."""
    import tracing

    with tracing.Py4jCounter() as counter:
        if wl.name == "url_db_stream":
            tracer = None
            phase = wl.phase(seconds, counter)
            own_s = counter.own_s
        else:
            tracer = tracing.LoopTracer(spark, counter, wl.capture_tick)
            window = tracing.EngineWindow(tracer.engine)
            phase = wl.phase(seconds, tracer)
            phase.layers.update(window.metrics())
            phase.layers.update(tracing.loop_metrics(tracer.all_ticks))
            own_s = counter.own_s + tracer.bookkeeping_s
    # share of the phase's core time spent running tasks: row work, against
    # driver-side planning and scheduling and under-filled stages
    phase.layers["crawl_loop.task_share"] = (
        phase.layers["spark.task_ms"] / (CORES * phase.wall_s * 1000) if phase.wall_s else 0.0
    )
    phase.layers.update(wl.replay(tracer))
    e2e = _end_to_end(phase, 0.0)
    phase.layers["trace.items_per_s"] = e2e["items_per_s"]
    phase.layers["trace.step_p50_ms"] = e2e["step_p50_ms"]
    phase.layers["trace.overhead_pct"] = own_s / phase.wall_s * 100 if phase.wall_s else 0.0
    phase.layers["step.samples"] = len(phase.steps_s)
    return phase, phase.layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import flink_crawler_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the crawler from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _environment(work)
    import hostnoise
    import tracing
    from flink_crawler_spark.session import get_spark
    from workloads import WORKLOADS as CLASSES

    spark = None
    try:
        with hostnoise.TreeSampler() as sampler:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench_{args.workload}", cpus=CORES)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            wl = CLASSES[args.workload](spark, work, args.seed)
            t0 = time.perf_counter()
            parts = {"session_s": session_s, **wl.setup(args.seconds)}
            setup_s = session_s + time.perf_counter() - t0

            # start probes on the warm engine, right before the measured phase
            noise = {"host.calib_py_s": hostnoise.calib_py_seconds()}
            tracing.calib_jvm_seconds(spark, rows=1_000_000)  # compiles the probe's plan
            noise["host.calib_jvm_s"] = tracing.calib_jvm_seconds(spark)

            if args.trace:
                phase, layers = _traced(wl, args.seconds, spark)
            else:
                phase, layers = wl.phase(args.seconds), {}

            noise["host.calib_py_end_s"] = hostnoise.calib_py_seconds()
            noise["host.calib_jvm_end_s"] = tracing.calib_jvm_seconds(spark)
            noise.update(sampler.record())
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work directory is still there

    e2e = _end_to_end(phase, setup_s)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "steps_ms": [round(s * 1000) for s in phase.steps_s],
        "setup": parts,
        "run_s": time.perf_counter() - started,
        "errors": phase.errors[:10],
        **e2e,
        **noise,
    }
    print(json.dumps({"perfbench_record": record}), file=sys.stderr)
    if args.trace:
        layers.update(noise)
        metrics = {k: (float(layers[k]), u) for k, u in _metric_units("per_layer").items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in _metric_units("end_to_end").items()}
    print(_result(not phase.errors, phase.attempted, phase.failed, metrics))
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited, also when
    a py4j call cut short by SIGTERM has left the gateway unusable."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
