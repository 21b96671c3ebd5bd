#!/usr/bin/env python3
"""Benchmark for the transcript -> knowledge-graph pipeline.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds nothing: the package is imported
from the checkout (``pysql2neo4j_spark/`` next to this directory) and
put on ``PYTHONPATH`` for Spark's Python workers. Everything the run
writes (input cache, stores, Spark scratch, event log, trace) goes
under ``.perfbench/`` in the checkout.

``--trace 0`` runs the workload closed loop after set-up and one untimed
warm-up iteration, until ``--seconds`` have passed and at least
``MIN_TIMED`` iterations are done. It gates every output and prints the
end-to-end metrics, medians over the iterations. ``--trace 1`` runs one
untraced iteration, then the layer walk with a span per layer call and Spark's
event log on, and prints the per-layer metrics, the span tree and the
tracing overhead. The last stdout line is the result object.
See perfbench/README.md for workloads, metrics and the baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from metrics import COUNTER_UNITS, END_TO_END, LAYERS, PER_LAYER, REGISTRY_KEYS, SPAN_METRICS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"
CONVS, DOCS = 2000, 500          # corpus conversations (~10 turns each); registry rows
MIN_TIMED = 2                    # timed iterations per run at least; the metrics are their medians
SMOKE_CONVS, SMOKE_DOCS = 40, 200


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True, help="input seed; confirm claims on --seed 2")
    ap.add_argument("--seconds", type=float, required=True, help="measuring time of the closed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args()
    args.convs, args.docs = (SMOKE_CONVS, SMOKE_DOCS) if args.smoke else (CONVS, DOCS)
    return args


def pin_environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable here and in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_IVF_CACHE"] = os.path.join(WORK, "cache", "ivf")


def start_session(cores: int, event_dir: str | None):
    from pysql2neo4j_spark.session import get_spark, warm_python_workers

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{event_dir}",
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine so far, from
    /proc/stat; stolen ticks are time the hypervisor ran other guests
    while this one wanted a CPU, and count as busy."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def timed(workload, seconds: float) -> tuple[dict[str, float], dict]:
    from pyspark import SparkContext

    from spans import PeakRss

    samples = []
    cpu0 = cpu_ticks()
    with PeakRss(SparkContext._gateway.proc.pid) as rss:
        t0 = time.perf_counter()
        while len(samples) < MIN_TIMED or time.perf_counter() - t0 < seconds:
            samples.append(workload.run_once("timed"))
    busy, steal = (b - a for a, b in zip(cpu0, cpu_ticks()))
    metrics = {
        "wall_s": statistics.median(s["wall_s"] for s in samples),
        "rows_per_s": statistics.median(s["rows"] / s["wall_s"] for s in samples),
        "peak_rss_mb": rss.python_mib,
    }
    return metrics, {"iterations": len(samples), "samples": samples, "steal_share": steal / max(busy, 1)}


def traced(ctx, workload) -> tuple[dict[str, float], object]:
    from pyspark import SparkContext

    from spans import PeakRss, Tracer
    from workloads import layer_walk

    untraced = workload.run_once("trace_reference")["wall_s"]
    tr = Tracer()
    with PeakRss(SparkContext._gateway.proc.pid) as rss:
        metrics = layer_walk(ctx, tr)
    metrics["bench.jvm_peak_rss_mb"] = rss.jvm_mib
    for span, name in SPAN_METRICS.items():
        metrics[name] = tr.get(span).seconds
    metrics["pipeline.extract_boundary_s"] = metrics["pipeline.extract_stage_s"] - metrics["extraction.kernel_s"]
    metrics["incremental.freshness_s"] = metrics["pipeline.append_extract_s"] + metrics["incremental.finalize_s"]
    layer_sum = sum(tr.get(s).seconds for s in workload.op_spans)
    metrics.update({
        "trace.untraced_wall_s": untraced,
        "trace.layer_sum_s": layer_sum,
        "trace.overhead_s": layer_sum - untraced,
        "trace.overhead_ratio": layer_sum / untraced - 1.0,
    })
    return metrics, tr


def run(args: argparse.Namespace) -> dict:
    t_start = time.perf_counter()
    pin_environment()
    import inputs
    from spans import attribute_jobs, read_event_log
    from workloads import BY_NAME, Ctx, Gates

    import pandas
    import pyarrow
    import pyspark

    from pysql2neo4j_spark.plans.pipeline import PipelineConfig

    cores = len(os.sched_getaffinity(0))
    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    # buckets sized to the machine, as bench.py sizes n_buckets: 2 x cores
    cfg = PipelineConfig(n_buckets=2 * cores, n_entity_buckets=2 * cores)
    cache = os.path.join(WORK, "cache")
    gates = Gates()
    phases = {"imports_s": time.perf_counter() - t_start}
    spark = start_session(cores, event_dir)
    phases["session_s"] = time.perf_counter() - t_start - sum(phases.values())
    try:
        ctx = Ctx(spark, WORK, cfg, gates)
        if args.trace or args.workload == "batch_build":
            ctx.corpus = inputs.corpus(cache, args.convs, args.seed)
            ctx.oracle_edges, ctx.oracle_entities = inputs.graph_oracle(ctx.corpus.transcripts)
        if args.trace or args.workload == "registry_text":
            ctx.registry = inputs.registry(cache, args.docs, args.seed, REGISTRY_KEYS)
        workload = BY_NAME[args.workload](ctx)
        phases["inputs_s"] = time.perf_counter() - t_start - sum(phases.values())
        workload.setup()
        phases["workload_setup_s"] = time.perf_counter() - t_start - sum(phases.values())
        setup_s = time.perf_counter() - t_start
        if args.trace:
            metrics, tr = traced(ctx, workload)
            detail = {}
        else:
            metrics, detail = timed(workload, args.seconds)
            metrics["setup_s"] = setup_s
    finally:
        stop_session(spark)
    if args.trace:
        jobs, tasks = read_event_log(event_dir)
        counters = attribute_jobs(tr.spans, jobs, tasks)
        for layer in LAYERS:
            for c in COUNTER_UNITS:
                metrics[f"{layer}.{c}"] = counters.get(layer, {}).get(c, 0)
        metrics["bench.error_rate"] = gates.failed / gates.attempted
        tr.dump(os.path.join(WORK, f"trace_{args.workload}_s{args.seed}.json"))
        print("span tree:\n  " + "\n  ".join(tr.tree()), file=sys.stderr)
        print(f"tracing overhead: layer sum {metrics['trace.layer_sum_s']:.3f}s vs untraced "
              f"{metrics['trace.untraced_wall_s']:.3f}s ({metrics['trace.overhead_ratio']:+.1%})",
              file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
    for err in gates.errors:
        print(f"GATE FAILED {err}", file=sys.stderr)
    print(json.dumps({"detail": {
        **detail, "setup_phases": phases, "workload": args.workload, "seed": args.seed, "nproc": cores,
        "spark": pyspark.__version__, "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
        "driver_memory": DRIVER_MEMORY, "convs": args.convs, "docs": args.docs,
        "turns": ctx.n_turns if ctx.corpus else None,
        "n_buckets": cfg.n_buckets, "n_entity_buckets": cfg.n_entity_buckets,
    }}))
    return {
        "correct": gates.failed == 0,
        "attempted": gates.attempted,
        "failed": gates.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pysql2neo4j_spark", "__init__.py")):
        print(f"perfbench: no pysql2neo4j_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
