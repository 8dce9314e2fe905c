"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it holds
the run's details (input properties, extra figures, oracle errors). All
scratch files go under <checkout>/.perfbench/. See perfbench/README.md.
"""
from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from proctree import peak_rss_mb  # noqa: E402
from spans import SPAN_METRICS, Tracer  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {"setup_s": "s", "op_cpu_s": "s"}
# (module or class path, attribute, layer): the public calls the traced run wraps
TRACED_CALLS = (
    ("similardocs_spark.index.build", "build_index", "index.build"),
    ("similardocs_spark.index.build", "build_postings", "index.build.postings"),
    ("similardocs_spark.index.build", "build_terms", "index.build.terms"),
    ("similardocs_spark.index.incremental", "incremental_update", "index.incremental"),
    ("similardocs_spark.query.engine:SearchEngine", "__post_init__", "query.engine.open"),
    ("similardocs_spark.query.engine:SearchEngine", "prepare", "query.engine.prepare"),
    ("similardocs_spark.query.engine:SearchEngine", "score_bucket", "query.engine.score"),
    ("similardocs_spark.query.engine:SearchEngine", "search", "query.engine.search"),
    ("similardocs_spark.query.engine:SearchEngine", "search_batch", "query.batch"),
    ("similardocs_spark.profiles:ProfileStore", "update_stale", "profiles"),
)
LAYERS = ("functions.tokenize",) + tuple(layer for _, _, layer in TRACED_CALLS)
LAYER_EXTRAS = {
    "index.build.docs_bytes": "bytes", "index.build.postings_bytes": "bytes",
    "index.build.terms_bytes": "bytes", "index.incremental.segs_touched": "count",
    "index.incremental.rewritten_bytes_per_delta_byte": "ratio",
    "process.peak_rss_mb": "MB", "host.steal_share": "ratio",
    "trace.uncovered_share": "ratio", "trace.overhead_s": "s",
    "trace.op_cpu_s": "s", "trace.op_p50_s": "s",
}


def _cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(3072, total_kb // 1024 // 4))


def start_spark(work: str):
    """local[N] session fitted to the host; every scratch path inside `work`,
    and Python workers import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM perf-data file: it would land in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    n = _cores()
    # C1-only JIT: each run's JVM lives about a minute; C2 compiler threads
    # would compete with the N task threads and their warm-up drift would
    # dominate the few operations one run can afford.
    java_opts = f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{_driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(n))  # one task per core per stage
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must keep every job and stage of a traced run
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def install_tracing(tracer) -> None:
    """Wrap every TRACED_CALLS target. All modules are imported first, so a
    name one module imported from another keeps the unwrapped function
    (incremental's term refresh stays in index.incremental's self time)."""
    import importlib

    targets = [(t.partition(":"), attr, layer) for t, attr, layer in TRACED_CALLS]
    mods = {mod: importlib.import_module(mod) for (mod, _, _), _, _ in targets}
    for (mod, _, cls), attr, layer in targets:
        owner = getattr(mods[mod], cls) if cls else mods[mod]
        tracer.wrap(owner, attr, layer)


def _steal_share(ticks0: list[int]) -> float:
    """Share of host CPU time stolen by other guests since ticks0."""
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    return d[7] / max(1, sum(d))


def layer_metrics(run, tracer) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of BENCHMARK.json: name → (value, unit)."""
    tracer.collect()
    totals = tracer.layer_totals()
    out = {
        f"{layer}.{m}": (float(totals.get(layer, {}).get(m, 0)), _span_unit(m))
        for layer in LAYERS for m in SPAN_METRICS
    }
    sizes = run.props["index_bytes"]
    delta = run.props["delta"]
    extras = {
        "index.build.docs_bytes": sizes["docs"],
        "index.build.postings_bytes": sizes["postings"],
        "index.build.terms_bytes": sizes["terms"],
        "index.incremental.segs_touched": delta["segs_touched"],
        "index.incremental.rewritten_bytes_per_delta_byte": delta["rewritten_bytes_per_delta_byte"],
        "process.peak_rss_mb": run.props["peak_rss_mb"],
        "host.steal_share": run.props["steal_share"],
        "trace.uncovered_share": tracer.uncovered_share(*run.timed),
        "trace.overhead_s": tracer.overhead_s,
        "trace.op_cpu_s": run.values["op_cpu_s"],
        "trace.op_p50_s": run.values["op_p50_s"],
    }
    out.update({k: (float(v), LAYER_EXTRAS[k]) for k, v in extras.items()})
    return out


def _span_unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import similardocs_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run, build_probe, delta_probe, tokenize_probe

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ticks0 = _cpu_ticks()
    spark = start_spark(work)
    t_session = time.time()
    try:
        tracer = Tracer(spark) if args.trace else None
        if tracer is not None:
            install_tracing(tracer)
        run = Run(spark, work, WORK, args.seed, args.seconds, tracer)
        run.phases["session"] = t_session - T_PROCESS
        t_start = WORKLOADS[args.workload](run)
        run.values["setup_s"] = t_start - T_PROCESS
        if tracer is not None:
            probe_root = build_probe(run)
            tokenize_probe(run)
            delta_probe(run, probe_root)
            tracer.unwrap_all()
        run.props["peak_rss_mb"] = peak_rss_mb()
        run.props["steal_share"] = _steal_share(ticks0)
        if tracer is None:
            metrics = {k: (run.values[k], unit) for k, unit in END_TO_END.items()}
        else:
            metrics = layer_metrics(run, tracer)
            spans_file = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans_file), exist_ok=True)
            with open(spans_file, "w") as f:
                json.dump({"timed": run.timed, "spans": tracer.spans}, f)
            run.props["spans_file"] = os.path.relpath(spans_file, ROOT)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "values": run.values, "props": run.props, "errors": run.errors[:20],
    }, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
