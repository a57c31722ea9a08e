"""Benchmark of the gmql_spark tier engine, run from the repository root:

    python3 perfbench/run.py --workload tier_backfill --seed 1 --seconds 1 --trace 0

One driver process, one closed-loop client (the next call starts when the
previous one returned) on ``local[<cores>]``. A run sets up (starts the
JVM, generates inputs from ``--seed`` and stages them, three times, then
one untimed warm-up pass), runs measured passes until ``--seconds`` have
elapsed, checks every pass's output, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
pass and reports per-layer metrics, including the tracer's own time per
pass (``trace.overhead_s``) and the traced pass's wall time
(``bench.pass_s``) to hold against an untraced run's; the spans are
written to ``.perfbench/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import HostSpeed, RssSampler, Tracer, descendants, jit_cpu_s  # noqa: E402  (perfbench/ is sys.path[0])
from workloads import SCALES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
UNIT_REF_S = 1e-3  # the normalised CPU metrics assume one work unit costs this

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_norm_s": "s",
    "op_cpu_norm_s": "s",
    "stored_bytes_per_turn": "B",
}

PER_LAYER = {
    "bench.peak_rss_mb": "MB",
    "session.start_s": "s",
    "setup.stage_s": "s",
    "setup.warm_up_s": "s",
    "bench.calibration_s": "s",
    "bench.loadavg_start": "load",
    "bench.loadavg_end": "load",
    "bench.ops_failed_frac": "ratio",
    "bench.pass_s": "s",
    "bench.op_p50_s": "s",
    "bench.jit_cpu_s": "s",
    "bench.pass_cpu_s": "s",
    "bench.op_cpu_s": "s",
    "bench.unit_cpu_ms": "ms",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_only_s": "s",
    "python_workers.cpu_s": "s",
    "operators.rollup.exchanges": "count",
    "checkpoint.bucket_p50_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.stages": "count",
    "checkpoint.tasks": "count",
    "checkpoint.driver_only_s": "s",
    "checkpoint.shuffle_write_bytes": "B",
    "checkpoint.spill_bytes": "B",
    "checkpoint.executor_cpu_s": "s",
    "checkpoint.gc_s": "s",
    "compression.gorilla.bytes_ratio": "ratio",
    "incremental.append_p50_s": "s",
    "incremental.refresh_p50_s": "s",
    "incremental.append_jobs": "count",
    "incremental.refresh_jobs": "count",
    "incremental.refresh_input_bytes": "B",
    "incremental.driver_only_s": "s",
    "realtime.query_p50_s": "s",
    "realtime.query_jobs": "count",
    "realtime.input_bytes": "B",
    "sources.catalog.fact_files": "count",
    "retention.compact_s": "s",
    "retention.files_rewritten": "count",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.log = log


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the checkout's engine."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that spark-submit uses to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from gmql_spark.session import get_spark

    # fixed JIT compiler threads: spans.jit_cpu_s reads them per thread
    java_opts = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    return get_spark(
        cores=len(os.sched_getaffinity(0)),
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers below it to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:  # still there after 30 s
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def median(xs) -> float:
    return float(statistics.median(list(xs)))


def end_to_end(passes, setup_s: float, peak_rss: int) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": median(p.wall_s for p in passes),
        "turns_per_s": median(p.turns / p.wall_s for p in passes),
        "op_p50_s": median(x for p in passes for x in p.op_latencies),
        "op_worst_s": max(x for p in passes for x in p.op_latencies),
        "pass_cpu_s": median(p.span.cpu_s for p in passes),
        "op_cpu_s": median(x for p in passes for x in p.op_cpu),
        "unit_cpu_ms": median(p.unit_cpu_s * 1e3 for p in passes),
        "pass_cpu_norm_s": median(p.span.cpu_s * UNIT_REF_S / p.unit_cpu_s for p in passes),
        "op_cpu_norm_s": median(
            x * UNIT_REF_S / p.unit_cpu_s for p in passes for x in p.op_cpu
        ),
        "stored_bytes_per_turn": median(p.stored_bytes_per_turn for p in passes),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(traced, tracer, extra: dict) -> dict:
    vals = {k: 0.0 for k in PER_LAYER}
    vals.update(extra)
    for k in {k for p in traced for k in p.layer}:
        vals[k] = median(p.layer.get(k, 0.0) for p in traced)
    stats = [tracer.subtree_stats(p.span) for p in traced]
    for f in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ):
        vals[f"spark.{f}"] = median(getattr(s, f) for s in stats)
    vals["spark.driver_only_s"] = median(tracer.driver_only_s(p.span) for p in traced)
    vals["python_workers.cpu_s"] = median(p.span.py_cpu_s for p in traced)
    vals["bench.pass_s"] = median(p.wall_s for p in traced)
    vals["bench.op_p50_s"] = median(x for p in traced for x in p.op_latencies)
    vals["trace.overhead_s"] = median(p.trace_overhead_s for p in traced)
    vals["bench.jit_cpu_s"] = median(p.jit_cpu_s for p in traced)
    vals["bench.pass_cpu_s"] = median(p.span.cpu_s for p in traced)
    vals["bench.op_cpu_s"] = median(x for p in traced for x in p.op_cpu)
    vals["bench.unit_cpu_ms"] = median(p.unit_cpu_s * 1e3 for p in traced)
    return vals


def rollup_exchanges(spark, raw) -> int:
    """Exchange count of the flagship tier plans (``rollup_all_tiers``)
    over the workload's input. Building the plans runs no job."""
    from gmql_spark.operators.rollup import rollup_all_tiers
    from gmql_spark.plans.inspect import plan_report

    return sum(plan_report(df)["exchanges"] for df in rollup_all_tiers(raw).values())


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gmql_spark", "__init__.py")):
        log(f"no gmql_spark package next to {HERE}; run from a full checkout")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    prepare_env(work)
    load_start = os.getloadavg()[0]

    spark = start_spark(work)
    try:
        return run(args, spark, work, load_start)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"shutdown {time.perf_counter() - t:.2f}s, total {time.perf_counter() - T_START:.2f}s")


def run(args, spark, work: str, load_start: float) -> int:
    from pyspark import SparkContext

    rss = RssSampler().start()
    session_s = time.perf_counter() - T_START
    jvm_pid = SparkContext._gateway.proc.pid
    ctx = Ctx(spark, args.seed, work)
    wl = WORKLOADS[args.workload](ctx, SCALES[args.scale])
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(spark, run_id, enabled=bool(args.trace), jvm_pid=jvm_pid)

    stage_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        wl.stage()
        stage_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up(Tracer(spark, run_id, enabled=False, jvm_pid=jvm_pid))
    warm_s = time.perf_counter() - t
    setup_s = session_s + median(stage_s) + warm_s

    import bench  # the repository's calibration probe

    calibration_s = bench._calibration(spark)
    log(f"setup {setup_s:.2f}s (session {session_s:.2f}, stage {stage_s}, warm-up {warm_s:.2f})")

    passes = []
    host = HostSpeed().start()
    attempted = failed = 0
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < args.seconds:
        attempted += wl.ops_per_pass
        overhead0 = tracer.overhead_s
        jit0 = jit_cpu_s(jvm_pid)
        try:
            with tracer.span("pass") as sp:
                p = wl.run_pass(i, tracer)
        except Exception:
            failed += wl.ops_per_pass
            tracer.reset()
            log(f"pass {i} failed:\n{traceback.format_exc()}")
        else:
            p.span = sp
            p.trace_overhead_s = tracer.overhead_s - overhead0
            p.jit_cpu_s = jit_cpu_s(jvm_pid) - jit0
            failed += p.ops_failed
            passes.append(p)
            if len(passes) == 1:
                peak_rss = rss.peak
            p.unit_cpu_s = host.unit_cpu_s(sp.start, sp.end)
            log(f"pass {i} {p.wall_s:.2f}s ops {[round(x, 2) for x in p.op_latencies]}")
        i += 1
    host.stop()
    rss.stop()
    if not passes:
        log("no pass completed")
        return 1

    t = time.perf_counter()
    try:
        failed += wl.check(passes)
    except Exception:  # a check that cannot run fails every operation it covers
        failed += sum(wl.ops_per_pass - p.ops_failed for p in passes)
        log(f"output check raised:\n{traceback.format_exc()}")
    log(f"output checks {time.perf_counter() - t:.2f}s")
    load_end = os.getloadavg()[0]
    e2e = end_to_end(passes, setup_s, peak_rss)
    ops_failed_frac = failed / attempted

    if args.trace:
        metrics = per_layer(
            passes,
            tracer,
            {
                "session.start_s": session_s,
                "setup.stage_s": median(stage_s),
                "setup.warm_up_s": warm_s,
                "bench.calibration_s": calibration_s,
                "bench.loadavg_start": load_start,
                "bench.loadavg_end": load_end,
                "bench.ops_failed_frac": ops_failed_frac,
                "bench.peak_rss_mb": e2e["peak_rss_mb"],
                "operators.rollup.exchanges": rollup_exchanges(spark, wl.input_frame()),
            },
        )
        units = PER_LAYER
        path = os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json")
        tracer.dump(
            path,
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "calibration_s": calibration_s,
                "loadavg_start": load_start,
                "loadavg_end": load_end,
                "metrics": metrics,
            },
        )
        log(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics, units = e2e, END_TO_END

    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"passes {len(passes)} traced {bool(args.trace)}")
    print(f"calibration_s {calibration_s:.3f} loadavg {load_start:.2f} -> {load_end:.2f}")
    named = {"setup_s": (e2e["setup_s"], "s"), **wl.named_metrics(e2e, passes)}
    named["pass_cpu_norm_s"] = (e2e["pass_cpu_norm_s"], "s")
    named["op_cpu_norm_s"] = (e2e["op_cpu_norm_s"], "s")
    named["unit_cpu_ms"] = (e2e["unit_cpu_ms"], "ms")
    named["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    for k, (v, unit) in named.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"ops_failed_frac {ops_failed_frac:.6g} ({failed}/{attempted})")
    print(f"output check: {'PASS' if failed == 0 else 'FAIL'}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
