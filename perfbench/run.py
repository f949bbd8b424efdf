#!/usr/bin/env python3
"""The repo benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {sync_cur,cost_queries,dedup_heavy} \
        --seed N --seconds S --trace {0,1}

One process, one client, closed loop, on ``local[<cores>]``. A run
generates its inputs from the seed, sets the session up, warms every
operation once (capturing outputs to check), then runs whole passes
over the workload's operations until ``--seconds`` have gone by, checks
the outputs against DuckDB, and prints:

- ``--trace 0``: the end-to-end metrics, tracing off;
- ``--trace 1``: the per-layer metrics. Half of the time runs untraced
  and half traced (engine functions wrapped, see spans.py); the gap
  between the two is ``trace.overhead_ratio``.

Human-readable lines (every end-to-end figure, host context) come
first; the last stdout line is the JSON object. The exit code is 1 if
any operation failed or any output was wrong. Scratch files live under
``.perfbench/`` in the working directory; the last result and span
trace of each workload stay in ``.perfbench/last/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import spans  # noqa: E402
import workloads  # noqa: E402

ENGINE = "poet_cloud_cost_etl_spark"
# Engine modules whose functions the traced run does not wrap: the
# query registry (its entries are the "construct" spans), the oracle
# SQL, the session factory, the CLI, and executor-side UDFs.
WRAP_SKIP = ("queries", "oracles", "session", "cli", "__main__", "udfs")

SETUP_SAMPLES = 3
CALIBRATION_REPS = 8

# The metrics BENCHMARK.json lists; see perfbench/README.md.
E2E_METRICS = [
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("pass_s", "s"),
]

LAYER_METRICS = [
    ("catalog.read_s", "s"),
    ("catalog.read_jobs", "count"),
    ("construct.s", "s"),
    ("construct.jobs", "count"),
    ("construct.tasks", "count"),
    ("construct.executor_s", "s"),
    ("construct.shuffle_write_mb", "MB"),
    ("plan.s", "s"),
    ("action.s", "s"),
    ("action.jobs", "count"),
    ("action.tasks", "count"),
    ("action.executor_s", "s"),
    ("action.busy_ratio", "ratio"),
    ("action.shuffle_write_mb", "MB"),
    ("action.spill_mb", "MB"),
    ("sources.read_s", "s"),
    ("sources.read_jobs", "count"),
    ("normalize.s", "s"),
    ("sinks.raw_s", "s"),
    ("sinks.raw_mb", "MB"),
    ("sinks.raw_files", "count"),
    ("sinks.normalized_s", "s"),
    ("sinks.normalized_mb", "MB"),
    ("sinks.normalized_files", "count"),
    ("sinks.tasks", "count"),
    ("sinks.executor_s", "s"),
    ("sinks.busy_ratio", "ratio"),
    ("sync_log.s", "s"),
    ("sync_log.jobs", "count"),
    ("union_view.s", "s"),
    ("pipeline.self_s", "s"),
    ("pipeline.self_jobs", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("host.calibration_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]
for _q in workloads.DEDUP_QUERIES:
    LAYER_METRICS += [
        (f"{_q}.construct.s", "s"),
        (f"{_q}.construct.jobs", "count"),
        (f"{_q}.action.s", "s"),
        (f"{_q}.action.executor_s", "s"),
    ]
for _q in workloads.COST_QUERIES:
    LAYER_METRICS += [(f"{_q}.s", "s"), (f"{_q}.jobs", "count")]

# Span-name tests for the layers; a span counts once, at its outermost
# occurrence.
LAYERS = {
    "catalog": lambda n: n == "catalog.table",
    "construct": lambda n: n == "construct",
    "plan": lambda n: n == "plan",
    "action": lambda n: n == "action",
    "sources": lambda n: n == "sources.read",
    "normalize": lambda n: n.startswith("operators.normalize."),
    "sinks": lambda n: n.startswith("sources.sinks."),
    "sync_log": lambda n: n.startswith("sources.sync_log."),
    "union_view": lambda n: n.startswith("operators.union_view."),
}
SYNC_LAYERS = ("sources", "normalize", "sinks", "sync_log", "union_view")


# --- process environment and session ------------------------------------

def prepare_env(work: str, cores: int) -> None:
    """Keep every scratch file of Spark, the JVM and Python inside the
    run's work directory, and size the engine to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        # every JVM, spark-submit's launcher included; -XX:-UsePerfData
        # keeps hsperfdata files out of the system /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    time.tzset()


def open_session(cores: int):
    """Build the engine's session and run a first job; return it with
    the elapsed seconds."""
    from poet_cloud_cost_etl_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{cores}]")
    spark.range(1).count()
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def setup(cores: int, samples: int):
    """Set the session up ``samples`` times; the first launches the JVM,
    the rest rebuild the session inside it."""
    spark, first = open_session(cores)
    times = [first]
    for _ in range(samples - 1):
        spark.stop()
        spark, t = open_session(cores)
        times.append(t)
    return spark, times


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calibrate(spark) -> float:
    """bench.py's 1-shuffle micro: median of the last five reps."""
    from pyspark.sql import functions as F

    df = spark.range(5000)
    df.count()
    runs = []
    for _ in range(CALIBRATION_REPS):
        t0 = time.perf_counter()
        df.groupBy((F.col("id") % 523).alias("g")).count().write.format("noop").mode(
            "overwrite"
        ).save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs[-5:])


def host_context(spark, cores: int) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": cores,
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (vm_hwm_kb(jvm) + vm_hwm_kb("self")) * 1024 / 1e6


# --- timing -------------------------------------------------------------

def run_passes(wl, tracer, seconds: float) -> list[list[tuple[str, float | None]]]:
    """Whole passes until ``seconds`` have gone by (at least one). Each
    pass lists (operation, latency); a failed operation has None."""
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        this = []
        for name, op in wl.pass_ops():
            t0 = time.perf_counter()
            try:
                op(tracer)
                this.append((name, time.perf_counter() - t0))
            except Exception:
                traceback.print_exc()
                this.append((name, None))
            wl.after_op()
        passes.append(this)
        if time.perf_counter() >= t_end:
            return passes


def latencies(passes, op: str | None = None) -> list[float]:
    return [t for p in passes for n, t in p if t is not None and (op is None or n == op)]


def pass_sums(passes) -> list[float]:
    return [sum(t for _n, t in p) for p in passes if all(t is not None for _n, t in p)]


def tail(values: list[float]) -> tuple[float | None, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); (None, 0) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, 0.0
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def main_op(workload: str) -> str | None:
    """The operation whose latency is ``op_p50_s``: the sync call on
    sync_cur, every query on the query workloads."""
    return "sync" if workload == "sync_cur" else None


# End-to-end figures printed by every run; the BENCHMARK.json ones
# first, then the workload-specific names they stand for.
FIGURE_UNITS = dict(
    E2E_METRICS,
    setup_cold_s="s",
    peak_rss_mb="MB",
    ops_failed_ratio="ratio",
    sync_s="s",
    sync_write_amp="ratio",
    costs_view_read_s="s",
    query_p50_s="s",
    mix_pass_s="s",
)


def figures(workload, passes, setup_times, rss, landed, failed) -> dict[str, float]:
    """Every end-to-end figure of one run, by name."""
    op_lat = latencies(passes, main_op(workload))
    sums = pass_sums(passes)
    fig = {
        "setup_s": statistics.median(setup_times),
        "op_p50_s": statistics.median(op_lat) if op_lat else 0.0,
        "pass_s": statistics.median(sums) if sums else 0.0,
        "setup_cold_s": setup_times[0],
        "peak_rss_mb": rss,
        "ops_failed_ratio": failed / max(sum(len(p) for p in passes), 1),
    }
    if workload == "sync_cur":
        reads = latencies(passes, "costs_view_read")
        fig["sync_s"] = fig["op_p50_s"]
        fig["sync_write_amp"] = landed.get("write_amp", 0.0)
        fig["costs_view_read_s"] = statistics.median(reads) if reads else 0.0
    else:
        fig["query_p50_s"] = fig["op_p50_s"]
        fig["mix_pass_s"] = fig["pass_s"]
    return fig


# --- per-layer summary ----------------------------------------------------

def _subtree_sums(sp: list[spans.Span]):
    """Jobs and stage metrics of each span's subtree."""
    kids = spans.children_of(sp)
    jobs = [len(s.jobs) for s in sp]
    stats = [dict(s.stats) for s in sp]
    for i in range(len(sp) - 1, -1, -1):
        for k in kids.get(i, []):
            jobs[i] += jobs[k]
            for f in spans.STAGE_FIELDS:
                stats[i][f] += stats[k][f]
    return jobs, stats


def _outermost(sp: list[spans.Span], pred) -> list[int]:
    out = []
    for i, s in enumerate(sp):
        if not pred(s.name):
            continue
        p = s.parent
        while p is not None and not pred(sp[p].name):
            p = sp[p].parent
        if p is None:
            out.append(i)
    return out


def layer_metrics(sp, n_passes, cores, landed, calibration_s, overhead) -> tuple[dict, dict]:
    """Per-layer metrics, averaged per traced pass, plus the sync span
    accounting (layer time + pipeline self time vs the sync spans)."""
    totals, selfs = spans.total_times(sp), spans.self_times(sp)
    jobs, stats = _subtree_sums(sp)
    kids = spans.children_of(sp)

    def agg(idx):
        out = {"s": sum(totals[i] for i in idx), "jobs": sum(jobs[i] for i in idx)}
        for f in spans.STAGE_FIELDS:
            out[f] = sum(stats[i][f] for i in idx)
        return {k: v / n_passes for k, v in out.items()}

    def busy(a):
        return a["executor_s"] / (a["s"] * cores) if a["s"] > 0 else 0.0

    lay = {name: agg(_outermost(sp, pred)) for name, pred in LAYERS.items()}
    sinks = _outermost(sp, LAYERS["sinks"])
    raw = agg([i for i in sinks if sp[i].name.endswith(".write_parquet_partitioned")])
    norm = agg([i for i in sinks if sp[i].name.endswith(".write_costs_partitioned")])
    pipe = [i for i, s in enumerate(sp) if s.name == "pipeline.sync"]
    m = {
        "catalog.read_s": lay["catalog"]["s"],
        "catalog.read_jobs": lay["catalog"]["jobs"],
        "construct.s": lay["construct"]["s"],
        "construct.jobs": lay["construct"]["jobs"],
        "construct.tasks": lay["construct"]["tasks"],
        "construct.executor_s": lay["construct"]["executor_s"],
        "construct.shuffle_write_mb": lay["construct"]["shuffle_write_mb"],
        "plan.s": lay["plan"]["s"],
        "action.s": lay["action"]["s"],
        "action.jobs": lay["action"]["jobs"],
        "action.tasks": lay["action"]["tasks"],
        "action.executor_s": lay["action"]["executor_s"],
        "action.busy_ratio": busy(lay["action"]),
        "action.shuffle_write_mb": lay["action"]["shuffle_write_mb"],
        "action.spill_mb": lay["action"]["spill_mb"],
        "sources.read_s": lay["sources"]["s"],
        "sources.read_jobs": lay["sources"]["jobs"],
        "normalize.s": lay["normalize"]["s"],
        "sinks.raw_s": raw["s"],
        "sinks.raw_mb": landed.get("raw_mb", 0.0),
        "sinks.raw_files": landed.get("raw_files", 0),
        "sinks.normalized_s": norm["s"],
        "sinks.normalized_mb": landed.get("normalized_mb", 0.0),
        "sinks.normalized_files": landed.get("normalized_files", 0),
        "sinks.tasks": lay["sinks"]["tasks"],
        "sinks.executor_s": lay["sinks"]["executor_s"],
        "sinks.busy_ratio": busy(lay["sinks"]),
        "sync_log.s": lay["sync_log"]["s"],
        "sync_log.jobs": lay["sync_log"]["jobs"],
        "union_view.s": lay["union_view"]["s"],
        "pipeline.self_s": sum(selfs[i] for i in pipe) / n_passes,
        "pipeline.self_jobs": sum(len(sp[i].jobs) for i in pipe) / n_passes,
        "spark.jobs": sum(len(s.jobs) for s in sp) / n_passes,
        "spark.stages": sum(s.stats["stages"] for s in sp) / n_passes,
        "host.calibration_s": calibration_s,
        "trace.overhead_ratio": overhead,
    }

    def per_root(q, child=None):
        roots = [i for i, s in enumerate(sp) if s.parent is None and s.name == f"query:{q}"]
        if child is None:
            return roots
        return [k for r in roots for k in kids.get(r, []) if sp[k].name == child]

    def med(values):
        return statistics.median(values) if values else 0.0

    for q in workloads.DEDUP_QUERIES:
        c, a = per_root(q, "construct"), per_root(q, "action")
        m[f"{q}.construct.s"] = med([totals[i] for i in c])
        m[f"{q}.construct.jobs"] = med([jobs[i] for i in c])
        m[f"{q}.action.s"] = med([totals[i] for i in a])
        m[f"{q}.action.executor_s"] = med([stats[i]["executor_s"] for i in a])
    for q in workloads.COST_QUERIES:
        r = per_root(q)
        m[f"{q}.s"] = med([totals[i] for i in r])
        m[f"{q}.jobs"] = med([jobs[i] for i in r])

    # every direct child of a sync span must belong to a sync layer
    stray = [
        sp[k].name for i in pipe for k in kids.get(i, [])
        if not any(LAYERS[layer](sp[k].name) for layer in SYNC_LAYERS)
    ]
    sync_total = sum(totals[i] for i in pipe) / n_passes
    layers_sum = sum(lay[layer]["s"] for layer in SYNC_LAYERS) + m["pipeline.self_s"]
    accounting = {"sync_span_s": sync_total, "layers_plus_self_s": layers_sum, "stray_children": stray}
    return m, accounting


# --- main ----------------------------------------------------------------

def fmt(v) -> str:
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE} not found beside {HERE}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, cores)
    wl = workloads.make(args.workload, work, args.seed)
    spark = None
    phases: dict[str, float] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    try:
        wl.generate()
        phase("generate")
        spark, setup_times = setup(cores, 1 if args.trace else SETUP_SAMPLES)
        phase("setup")
        host = host_context(spark, cores)
        host["calibration_s"] = calibrate(spark)
        wl.bind(spark)
        phase("calibrate")
        wl.warm()
        phase("warm")

        tracer = spans.Tracer(enabled=False)

        layer, accounting = {}, {}
        if not args.trace:
            passes = run_passes(wl, tracer, args.seconds)
        else:
            untraced = run_passes(wl, tracer, args.seconds / 2)
            tracer = spans.Tracer(spark)
            try:
                tracer.install(ENGINE, skip=WRAP_SKIP)
                for obj, attr, name in wl.wrap_targets():
                    tracer.wrap_attr(obj, attr, name)
                passes = run_passes(wl, tracer, args.seconds / 2)
            finally:
                tracer.restore()
            left = spans.wrapped_bindings(ENGINE)
            if left:
                raise RuntimeError(f"wrappers left after the traced run: {left}")
            u, t = pass_sums(untraced), pass_sums(passes)
            overhead = statistics.median(t) / statistics.median(u) - 1.0 if u and t else 0.0
        phase("timed")
        landed = wl.landed()
        rss = peak_rss_mb(spark)
        if args.trace:
            layer, accounting = layer_metrics(
                tracer.spans, len(passes), cores, landed, host["calibration_s"], overhead
            )
        bad = wl.check()
        phase("check")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")

    counted = passes + untraced if args.trace else passes
    attempted = sum(len(p) for p in counted)
    failed = sum(1 for p in counted for n, t in p if t is None or n in bad)
    fig = figures(args.workload, passes, setup_times, rss, landed, failed)
    op_lat = latencies(passes, main_op(args.workload))
    tail_v, tail_p = tail(op_lat)
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} passes={len(passes)} ops={attempted}")
    print("host " + " ".join(f"{k}={fmt(v)}" for k, v in host.items()))
    print("phases_s " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    for k, v in fig.items():
        print(f"  {k} = {fmt(v)} {FIGURE_UNITS[k]}")
    print(f"  {main_op(args.workload) or 'query'}_tail_s = "
          + (f"{tail_v:.4f} s at p{tail_p:.0f}" if tail_v is not None else "n/a")
          + f" (n={len(op_lat)})")
    for q, why in bad.items():
        print(f"  WRONG {q}: {why}")
    if args.trace and args.workload == "sync_cur":
        print("  sync accounting: " + json.dumps(accounting))

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_METRICS}
    else:
        metrics = {k: {"value": fig[k], "unit": u} for k, u in E2E_METRICS}
    result = {
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    last = os.path.join(base, "last")
    os.makedirs(last, exist_ok=True)
    with open(os.path.join(last, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "host": host, "figures": fig, "layer": layer,
                   "setup_times": setup_times, "phases": phases, "passes": passes, "wrong": bad,
                   "accounting": accounting, "result": result}, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(last, f"{args.workload}-spans.json"))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
