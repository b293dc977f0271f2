"""Tile-engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload points --seed 1 --seconds 6 --trace 0

Run from the repository root.  It starts a local Spark session sized
from the host, builds the workload's inputs from the seed, runs one
warm-up iteration, then runs the closed loop for ``--seconds`` and
checks the outputs.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(spans and Spark counters around every layer call).  Details (input
properties, per-op accounting, errors) go to stderr and to
``.bench_run/results/``.  Exits nonzero if any op or check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".bench_run")
# input generations per run; the first is cold (JIT), so the median
# is a warm one
SETUP_REPS = 5
ROOT_SPAN = "iteration"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_session(master: str, work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = int(master[len("local["):-1])
    # a twelfth of host memory, within [1, 4] GB: the host is shared
    # and the inputs are small
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    driver_mb = min(4096, max(1024, host_mb // 12))
    spark = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap: no resizing, so RSS and GC vary less run to run
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(sc) -> None:
    """Stops Spark and waits for the gateway JVM to exit."""
    from pyspark import SparkContext

    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def measure(wl, tracer, seconds: float, traced: bool):
    """Closed loop for ``seconds``, with at least the workload's minimum
    of iterations.  In a traced run iterations alternate untraced and
    traced (each kind meets the minimum, capped at 2 traced), so the
    tracing overhead is measured against the same loop.  After each
    traced iteration, untimed, the workload traces the layer calls that
    run fused inside another op on their own."""
    plain, traced_t = [], []
    t_end = time.perf_counter() + seconds
    need_traced = min(wl.MIN_ITERATIONS, 2) if traced else 0
    while (
        time.perf_counter() < t_end
        or len(plain) < wl.MIN_ITERATIONS
        or len(traced_t) < need_traced
    ):
        tracer.enabled = traced and len(traced_t) < len(plain)
        if tracer.enabled:
            with tracer.span(ROOT_SPAN):
                dt = timed(wl.iterate)
            traced_t.append(dt)
            wl.side_spans()
        else:
            plain.append(timed(wl.iterate))
        tracer.enabled = False
        wl.after_iteration()
    return plain, traced_t


def scaling_baseline(assign, work: str) -> tuple[float, float]:
    """Median tile-assign iteration on the full session and on a local[1]
    session in the same JVM (inputs on disk are reused; one warm-up
    iteration on local[1] first)."""
    tn = statistics.median(timed(assign.iterate) for _ in range(2))
    assign.spark.stop()
    assign.spark = start_session("local[1]", work)
    assign.iterate()
    return tn, statistics.median(timed(assign.iterate) for _ in range(2))


# per-layer figures that are not per-op span counters; 0 where the
# workload does not exercise the layer
EXTRAS = {
    "knn.join.rounds": "count",
    "knn.join.start_radius": "count",
    "geom.query.candidates_per_point": "ratio",
    "geom.refine.hit_ratio": "ratio",
    "codecs.decode.raw_us": "us",
    "codecs.decode.q8_us": "us",
    "mosaic.candidates.per_image": "ratio",
    "tiledir.write.files": "count",
    "tiledir.write.stored_bytes_per_payload_byte": "ratio",
    "tiledir.read_tile.p50_ms": "ms",
    "tiledir.read_tile.tail_ms": "ms",
    "tiledir.read_tile.tail_pct": "%",
    "tiledir.read_tile.samples": "count",
    "tiling.assign.local1_job_s": "s",
    "tiling.assign.scaling_eff_1to4": "ratio",
    "trace.overhead_s": "s",
    "trace.self_time_coverage": "ratio",
}


def per_layer(wl, tracer, ops, plain, traced, ledger, work) -> dict:
    metrics = tracer.op_totals(ops, len(traced))
    extras = dict.fromkeys(EXTRAS, 0.0)
    with ledger.guard("trace.extras"):
        extras.update(wl.extras())
    extras["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    extras["trace.self_time_coverage"] = tracer.self_time_coverage(ROOT_SPAN)
    if wl.name == "points":
        with ledger.guard("tiling.assign.local1"):
            tn, t1 = scaling_baseline(wl.parts[0], work)
            extras["tiling.assign.local1_job_s"] = t1
            extras["tiling.assign.scaling_eff_1to4"] = t1 / (wl.cores * tn)
    metrics.update((k, (v, EXTRAS[k])) for k, v in extras.items())
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the clean-up below (stop Spark, wait for
    # the JVM, remove the scratch directory)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the engine must be importable here and in Spark's Python workers,
    # whatever the working directory
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        import mapchete_xarray_spark  # noqa: F401
        from spans import OpLedger, RssSampler, Tracer
        from workloads import OPS, WORKLOADS
        from pyspark import SparkContext
    except ImportError as e:
        log(f"cannot import the engine or the benchmark: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit runs first: no files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    tempfile.tempdir = None  # re-read TMPDIR

    cores = len(os.sched_getaffinity(0))
    ledger = OpLedger()
    rss = RssSampler()
    wl = None
    metrics: dict = {}
    details: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    cpu0 = cpu_times()
    try:
        t0 = time.perf_counter()
        spark = start_session(f"local[{cores}]", work)
        session_s = time.perf_counter() - t0
        rss.start(SparkContext._gateway.proc.pid)
        wl = WORKLOADS[args.workload](spark, args.seed, work, ledger, Tracer(spark))

        # each generation is a full rebuild of the inputs; the session
        # start and the warm-up are single samples that host noise moves
        # run to run, so they are reported in the details only
        gen_s = [timed(wl.generate) for _ in range(SETUP_REPS)]
        setup_s = statistics.median(gen_s)
        warm_s = timed(wl.iterate)
        wl.after_iteration()
        wl.begin_measure()

        plain, traced = measure(wl, wl.tracer, args.seconds, bool(args.trace))
        job_s = statistics.median(plain)
        wl.check()
        details.update(
            inputs=wl.properties(),
            session_s=session_s,
            generate_s=gen_s,
            warmup_s=warm_s,
            iterations_s=plain,
            traced_iterations_s=traced,
            op_s={k: [round(x, 3) for x in v] for k, v in wl.op_s.items()},
        )
        if args.trace:
            metrics = per_layer(wl, wl.tracer, OPS, plain, traced, ledger, work)
            wl.tracer.dump(
                os.path.join(RUN_DIR, "spans", f"{args.workload}-seed{args.seed}-{wl.tracer.run_id}.jsonl")
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "inputs_per_s": (wl.inputs() / job_s, "1/s"),
            }
    except Exception as e:  # noqa: BLE001 - report, never hang
        ledger.fail("benchmark", f"{type(e).__name__}: {e}", traceback.format_exc())
    finally:
        active = SparkContext._active_spark_context
        if active is not None or SparkContext._gateway is not None:
            stop_jvm(active)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if metrics and not args.trace:
        attempted = ledger.total_attempted
        metrics["peak_rss_mb"] = (peak_mb, "MB")
        metrics["ops_ok_ratio"] = ((attempted - ledger.total_failed) / attempted, "ratio")
    # host CPU taken by other guests during the run: a noise indicator
    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    details["host_steal_share"] = delta[7] / max(sum(delta), 1)
    details.update(peak_rss_jvm_mb=rss.peak_root_kb / 1024, peak_rss_mb=peak_mb)
    details.update(attempted=ledger.attempted, failed=ledger.failed, errors=ledger.errors)
    os.makedirs(os.path.join(RUN_DIR, "results"), exist_ok=True)
    out = os.path.join(RUN_DIR, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(details, f, indent=1, default=str)
    for err in ledger.errors:
        log(f"FAILED {err['op']}: {err['cause']}")
    log(json.dumps({k: v for k, v in details.items() if k != "errors"}, default=str))

    ok = ledger.total_failed == 0 and bool(metrics)
    result = {
        "correct": ok,
        "attempted": max(ledger.total_attempted, 1),
        "failed": ledger.total_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
