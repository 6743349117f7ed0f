#!/usr/bin/env python3
"""nipper_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout: the engine is imported from
``./nipper_spark`` (never from an installed copy); without it the
command exits with code 2 and prints no result.

Load model: one driver process, SparkSession on ``local[nproc]``,
closed loop — each measured operation (a crawl round, an extraction
pass) starts after the previous one returned. Set-up —
session start, the median of three input builds (generate from the
seed, load, cache), and warm-up (worker fork and imports, the first
crawl round or untimed operations) — is reported as ``setup_s`` and
is not part of the timed metrics. Outputs are checked against
single-threaded references after the measured window; ``failed``
counts operations that raised plus checks that did not hold.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: spans around each engine call plus the
Spark jobs, stages and SQL plans of the JVM status store, written to
``.perfbench_run/traces/``. A per-layer metric reads 0 on a workload
that does not exercise its layer. Everything the run writes stays under
``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.procs import RssSampler, reap_descendants  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

SETUP_REPEATS = 3

# name → (unit, better); BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": ("s", "lower"),
    "mem_held_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
}
PER_LAYER = {
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.slot_busy_frac": ("ratio", "higher"),
    "spark.no_job_s": ("s", "lower"),
    "exchange.shuffle_write_bytes": ("bytes", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.python_evals": ("count", "lower"),
    "frontier.jobs_per_round": ("count", "lower"),
    "frontier.stages_per_round": ("count", "lower"),
    "frontier.no_job_s_per_round": ("s", "lower"),
    "frontier.phase_s.wave": ("s", "lower"),
    "frontier.phase_s.fetch_extract_probe": ("s", "lower"),
    "frontier.phase_s.counters": ("s", "lower"),
    "frontier.phase_s.writes": ("s", "lower"),
    "frontier.resume_round_s": ("s", "lower"),
    "frontier.resume_jobs_per_round": ("count", "lower"),
    "bloom.probe_cpu_us_per_key": ("us/key", "lower"),
    "bloom.hit_precision": ("ratio", "higher"),
    "bloom.state_bytes": ("bytes", "lower"),
    "state.files_written_per_round": ("count", "lower"),
    "state.bytes_written_per_round": ("bytes", "lower"),
    "state.resume_s": ("s", "lower"),
    "baseline.oracle_crawl_s": ("s", "lower"),
    "html.parse_cpu_us_per_doc": ("us/doc", "lower"),
    "html.select_cpu_us_per_doc": ("us/doc", "lower"),
    "html_udfs.extract_cpu_us_per_doc": ("us/doc", "lower"),
    "html_udfs.boundary_frac": ("ratio", "lower"),
    "html_udfs.pages_per_s": ("1/s", "higher"),
    "html_udfs.records_per_s": ("1/s", "higher"),
    "url.canon_cpu_us_per_link": ("us/link", "lower"),
    "dedup.minhash_cpu_us_per_doc.b4096": ("us/doc", "lower"),
    "dedup.minhash_cpu_us_per_doc.b512": ("us/doc", "lower"),
    "dedup.simhash_cpu_us_per_doc.b4096": ("us/doc", "lower"),
    "dedup.simhash_cpu_us_per_doc.b512": ("us/doc", "lower"),
    "dedup.candidates_per_doc": ("count", "lower"),
    "dedup.pair_precision": ("ratio", "higher"),
    "dedup.cc_jobs": ("count", "lower"),
    "text_udfs.features_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.op_p50_s": ("s", "lower"),
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory (must run before pyspark starts the JVM)."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell"])


def _stop_spark(spark) -> None:
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after full collections: what the session
    holds (cached inputs, the status store), independent of when the
    collector last ran. Collected until a round frees less than 1%: a
    broadcast or table is released only after Python drops its proxy
    and a collection lets Spark's context cleaner find it."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    used = float("inf")
    for _ in range(5):
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)  # the context cleaner runs on its own thread
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if now > 0.99 * used:
            break
        used = now
    return now


def measure(wl, seconds: float, tracer: Tracer, session_s: float) -> dict:
    """Set-up, warm-up and the measured closed loop of one workload."""
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.prepare()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0

    times, items, failed = [], [], 0
    cost0 = tracer.cost_s
    ops = []
    deadline = time.perf_counter() + seconds
    while len(times) < wl.min_ops or (
            time.perf_counter() < deadline
            and len(times) < (wl.max_ops or float("inf"))):
        if tracer.enabled:
            wl.before_op()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", workload=wl.name) as sp:
                n = wl.op()
        except Exception:  # noqa: BLE001 — count it, report, stop the loop
            traceback.print_exc()
            failed += 1
            break
        times.append(time.perf_counter() - t0)
        items.append(n)
        if sp is not None:
            ops.append(sp)
        if tracer.enabled:
            wl.after_op()
    trace_cost_s = tracer.cost_s - cost0
    heap_mb = _live_heap_mb(wl.spark)
    if tracer.enabled:
        wl.after_window()
    print(f"perfbench: {wl.name}: session {session_s:.2f}s, input builds "
          f"{', '.join(f'{x:.2f}' for x in setups)}s, warm-up "
          f"{warmup_s:.2f}s, ops {', '.join(f'{x:.2f}' for x in times)}s",
          file=sys.stderr)
    return {"setup_s": session_s + statistics.median(setups) + warmup_s,
            "heap_mb": heap_mb, "times": times, "items": items,
            "failed": failed, "ops": ops, "trace_cost_s": trace_cost_s}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use < 1)")
    args = ap.parse_args(argv)

    if not (ROOT / "nipper_spark" / "__init__.py").is_file():
        print(f"perfbench: no nipper_spark package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, spark_layers
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = ROOT / ".perfbench_run"
    work = base / run_id
    _isolate(work)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from nipper_spark.session import build_session
            spark = build_session("perfbench", master=f"local[{_cores()}]",
                                  shuffle_partitions=_cores())
            spark.sparkContext.setLogLevel("ERROR")
            # the JVM's resident size follows garbage-collector timing
            # (the heap grows toward the engine's 8g default at the
            # collector's pace): its memory is counted as live heap
            rss.exclude.add(spark.sparkContext._gateway.proc.pid)
            wl = WORKLOADS[args.workload](spark, args.seed, str(work),
                                          tracer, args.scale)
            res = measure(wl, args.seconds, tracer,
                          time.perf_counter() - t0)
            checks = wl.checks()
            for name, ok in checks:
                if not ok:
                    print(f"perfbench: check failed: {name}",
                          file=sys.stderr)
            layers = {}
            if tracer.enabled:
                tracer.attach_spark(spark)
                layers = spark_layers(tracer, res["ops"], _cores())
                layers.update(wl.layers(res["ops"]))
            wl.release()
            _stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        left = reap_descendants()
        if left:
            print(f"perfbench: signalled leftover processes {left}",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: live heap {res['heap_mb']:.0f}MB, python peak rss "
          f"{rss.peak_mb:.0f}MB: {rss.describe()}", file=sys.stderr)
    times, items = res["times"], res["items"]
    failed = res["failed"] + sum(1 for _, ok in checks if not ok)
    if args.trace:
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.write(str(traces / f"{run_id}.json"))
        layers["trace.overhead_frac"] = res["trace_cost_s"] / sum(times)
        layers["trace.op_p50_s"] = statistics.median(times)
        values = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
        units = {k: u for k, (u, _) in PER_LAYER.items()}
    else:
        values = {"setup_s": res["setup_s"],
                  "mem_held_mb": res["heap_mb"] + rss.peak_mb,
                  "op_p50_s": statistics.median(times),
                  "items_per_s": sum(items) / sum(times)}
        units = {k: u for k, (u, _) in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(times) + res["failed"] + len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
