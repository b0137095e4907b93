"""Closed-loop benchmark of the engine: one client, one Python process,
``local[N]`` Spark.

    python3 perfbench/run.py --workload redset_replay --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run builds its inputs from ``--seed``,
sets up, runs a fixed untimed warm-up, then a measured phase of a fixed
number of ops (sized from ``--seconds``), then checks the outputs. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``; per-layer metrics from a
traced run with ``--trace 1``). The line before it is the run record: seed,
input row counts, N, versions, steal share and check results.

``--trace 1`` adds a second measured phase of the same size after the
untraced one, with Spark's event log attached and spans recorded; the
tracing overhead is its ``run_s`` minus the untraced ``run_s``. See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_run")
N_THREADS = 2  # Spark task threads; on a 4-core box this leaves cores for the driver JVM and Python
SETUP_REPS = 3

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "run_s": "s"}
# Every traced run reports every name; a layer a workload bypasses reads 0.
PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "pipeline.live_plane_share": "ratio",
    "pipeline.live_trigger_share": "ratio",
    "pipeline.live_state_rows": "count",
    "pipeline.historical_batch_share": "ratio",
    "operators.dashboard_read_share": "ratio",
    "io.accumulator_files": "count",
    "plans.build_share": "ratio",
    "plans.build_jobs": "count",
    "plans.exec_share": "ratio",
    "session.jvm_peak_rss_mb": "MB",
    "machine.steal_share": "ratio",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}

from tracing import Spans, attribute_jobs, call_site_module, cost, cpu_times  # noqa: E402
from tracing import median, peak_rss_mb, read_event_log, steal_share  # noqa: E402


class Ctx:
    """What one run shares with the workload code."""

    def __init__(self, args, work_dir: str, total_ops: int):
        self.seed = args.seed
        self.tiny = args.tiny
        self.corrupt = args.corrupt
        self.total_ops = total_ops  # measured ops over all phases
        self.work_dir = work_dir
        self.spans = Spans(False)  # on for the traced phase only
        self.spark = None
        self.input_rows: dict[str, int] = {}
        self.layer: dict[str, float] = {}  # per-layer values the workload measures
        self.layer_seconds: dict[str, float] = {}  # traced-phase seconds by layer stem
        self.checks: dict[str, bool] = {}
        self.record: dict = {}  # extra run-record fields a workload reports

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs)


def start_session(ctx: Ctx):
    from data_engineering_project_utn_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.local.dir": ctx.path("tmp"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{N_THREADS}]", extra_conf=conf,
        shuffle_partitions=2 * N_THREADS,  # the local default session.py's docstring states
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def attach_event_log(spark, log_dir: str):
    """Start Spark's own event-log listener mid-session, writing plain
    (uncompressed, non-rolling) JSON lines, so that only the traced phase
    pays for it."""
    os.makedirs(log_dir)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    conf = (
        jsc.getConf()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = sc._jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), jsc.applicationAttemptId(), sc._jvm.java.net.URI("file://" + log_dir), conf
    )
    listener.start()
    jsc.addSparkListener(listener)
    return listener


def detach_event_log(spark, listener) -> None:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jsc.removeSparkListener(listener)
    listener.stop()


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between the two nearest ranks (the median at
    50). Unlike a nearest-rank percentile it does not jump by the gap
    between two ops when their order swaps."""
    ordered = sorted(values)
    x = pct / 100.0 * (len(ordered) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (x - lo)


def measure(wl, ctx: Ctx, state, first: int, n: int) -> dict:
    """Ops first..first+n-1 in a closed loop; returns their wall times, the
    ones that raised, the phase wall time and the CPU steal share."""
    op_s, failed = [], set()
    cpu0, t_run = cpu_times(), time.perf_counter()
    for i in range(first, first + n):
        t = time.perf_counter()
        with ctx.span("op", i=i):
            try:
                wl.op(ctx, state, i)
            except Exception:  # a raising op is a failed op
                print(f"op {i} failed:", file=sys.stderr)
                traceback.print_exc()
                failed.add(i)
        op_s.append(time.perf_counter() - t)
        wl.after_op(ctx, state, i)
    run_s = time.perf_counter() - t_run
    return {"op_s": op_s, "failed": failed, "run_s": run_s, "steal": steal_share(cpu0, cpu_times())}


def execute(wl, args) -> dict:
    """One run: session, set-up, warm-up, the measured phase (tracing off),
    with --trace 1 a second, traced measured phase, then the checks."""
    work_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work_dir, "tmp")
    n_ops = wl.n_ops(args.seconds, args.tiny)
    ctx = Ctx(args, work_dir, n_ops * (2 if args.trace else 1))

    t0 = time.perf_counter()
    ctx.spark = start_session(ctx)
    session_s = time.perf_counter() - t0
    prepare_s, state = [], None
    for rep in range(1 if args.tiny else SETUP_REPS):
        t = time.perf_counter()
        state = wl.prepare(ctx, rep)
        prepare_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.start(ctx, state)
    setup_s = session_s + median(prepare_s) + time.perf_counter() - t

    phase_s = {"setup": time.perf_counter() - t0}
    try:
        t = time.perf_counter()
        wl.warmup(ctx, state)
        phase_s["warmup"] = time.perf_counter() - t
        plain = measure(wl, ctx, state, 0, n_ops)
        traced = None
        if args.trace:
            listener = attach_event_log(ctx.spark, ctx.path("eventlog"))
            ctx.spans.enabled = True
            traced = measure(wl, ctx, state, n_ops, n_ops)
            ctx.spans.enabled = False
            detach_event_log(ctx.spark, listener)
        t = time.perf_counter()
        failed = wl.check(ctx, state, ctx.total_ops) | plain["failed"]
        failed |= traced["failed"] if traced else set()
        phase_s["check"] = time.perf_counter() - t
    finally:
        wl.stop(ctx, state)
        rss = peak_rss_mb(jvm_pid(ctx.spark))
        versions = {
            "spark": ctx.spark.version,
            "java": ctx.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        ctx.spark.stop()

    op_s = plain["op_s"]
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": median(op_s),
        "op_tail_s": percentile(op_s, wl.TAIL_PCT),
        "run_s": plain["run_s"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "n_threads": N_THREADS,
        "versions": versions,
        "input_rows": ctx.input_rows,
        "ops_attempted": ctx.total_ops,
        "ops_failed": len(failed),
        "op_tail_pct": wl.TAIL_PCT,
        "ops_beyond_tail": sum(1 for x in op_s if x > metrics["op_tail_s"]),
        "op_s": [round(x, 4) for x in op_s],
        "setup_parts_s": {"session": session_s, "prepare": prepare_s},
        "phase_s": {**phase_s, "measured": plain["run_s"], "total": time.perf_counter() - t0},
        "checks": ctx.checks,
        "machine.steal_share": plain["steal"],
        **ctx.record,
    }
    if traced:
        record["end_to_end"] = metrics
        metrics, record["trace"] = per_layer(ctx, traced, rss)
        metrics["trace.run_s"] = traced["run_s"]
        metrics["trace.overhead_s"] = traced["run_s"] - plain["run_s"]
    return {"metrics": metrics, "record": record, "failed": len(failed), "n_ops": ctx.total_ops}


def jvm_pid(spark) -> int | None:
    gateway = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gateway, "proc", None)
    return getattr(proc, "pid", None)


def per_layer(ctx: Ctx, traced: dict, rss_mb: float) -> tuple[dict, dict]:
    """(per-layer metrics, trace record) for the traced phase. Spark cost
    vectors are per op. A layer's time is given as its share of the phase's
    wall time (``<stem>_share``: the spans named ``<stem>``, or seconds the
    workload measured under that stem), so that a layer a workload bypasses
    reads 0 as a ratio, not as a time. The record holds every span name's
    total and self time with its jobs and tasks, and the tasks per package
    module that Spark records as each job's call site."""
    n_ops, run_s = len(traced["op_s"]), traced["run_s"]
    jobs = read_event_log(ctx.path("eventlog"))
    by_span = attribute_jobs(ctx.spans, jobs)
    in_ops = [j for js in by_span for j in js]
    layer = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    layer.update({f"spark.{k}": v / n_ops for k, v in cost(in_ops).items()})
    spans: dict[str, dict] = {}
    for r, self_s, js in zip(ctx.spans.records, ctx.spans.self_times(), by_span):
        s = spans.setdefault(r["name"], dict.fromkeys(("count", "total_s", "self_s", "jobs", "tasks"), 0))
        s["count"] += 1
        s["total_s"] += r["end"] - r["start"]
        s["self_s"] += self_s
        s["jobs"] += len(js)
        s["tasks"] += sum(j["tasks"] for j in js)
    seconds = {name: s["total_s"] for name, s in spans.items()} | ctx.layer_seconds
    for name in PER_LAYER_UNITS:
        if name.endswith("_share"):
            layer[name] = seconds.get(name.removesuffix("_share"), 0.0) / run_s
    layer.update(ctx.layer)
    if "plans.build" in spans:
        layer["plans.build_jobs"] = spans["plans.build"]["jobs"] / n_ops
    layer["session.jvm_peak_rss_mb"] = rss_mb
    layer["machine.steal_share"] = traced["steal"]
    modules: dict[str, float] = {}
    for j in in_ops:
        m = call_site_module(j["call_site"])
        modules[m] = modules.get(m, 0) + j["tasks"] / n_ops
    return layer, {"spans": spans, "tasks_per_op_by_call_site": modules}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="perturb one observed output before the checks (smoke test)",
    )
    args = ap.parse_args(argv)

    try:
        import data_engineering_project_utn_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    try:
        res = execute(wl, args)
    finally:
        shutdown_jvm()
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    metrics = res["metrics"]

    print(json.dumps(res["record"], default=float))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and all(res["record"]["checks"].values()),
                "attempted": res["n_ops"],
                "failed": res["failed"],
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
