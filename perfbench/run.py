"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipelines,queries} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It generates its inputs from ``--seed``,
sets up the engine's Spark session, runs the cold pass (``cold_s``), an
untimed warm-up and then the timed passes, checks every output, and
prints one JSON object as the last line of stdout. The timed passes fill
about ``--seconds`` (``stats.passes_for``) and are summarised by medians.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the
untraced window in two halves around a second, traced window of
``--seconds`` and prints the per-layer metrics instead.
Everything else (per-run context, spans, failures) goes to
``.perfbench_work/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "latency_p50_ms": "ms",
}


# Spark runs on at most two cores. The workloads are small, latency-bound
# jobs: on four vCPUs shared with other tenants, local[4] plus the driver's
# own threads oversubscribes the box, and a neighbour taking two vCPUs slowed
# ingest passes by ~30% at local[4] against ~15% at local[2] (stream: ~25%
# against none), while quiet-box passes were no slower at local[2].
CORES = min(2, os.cpu_count() or 1)

HIGHER_IS_BETTER = {"rows_per_s"}
SELF_SPANS = ("ingest.run", "ingest.collect", "ingest.process", "stream.run", "stream.process",
              "query.build", "query.consume")
SESSION_LAYERS = ("session.import_s", "session.get_spark_s", "session.first_job_s")
# Peak RSS is per-layer, not end-to-end: the JVM's high-water mark varies
# up to 2x between identical runs (heap sizing), the Python side by <1%.
PROCESS_LAYERS = ("process.peak_rss_mb", "process.python_peak_rss_mb", "process.jvm_peak_rss_mb")


def per_layer_names() -> list[str]:
    """Every per-layer metric. Each workload prints all of them; a layer
    the workload does not run reads 0."""
    import ingest
    import queries
    import stream

    return [*SESSION_LAYERS, *PROCESS_LAYERS, *ingest.LAYER_NAMES, *stream.LAYER_NAMES, *queries.LAYER_NAMES,
            *(f"self.{n}_s" for n in SELF_SPANS), *(f"overhead.{k}" for k in E2E_UNITS)]


def isolate() -> None:
    """Keep every file the run writes inside the checkout and start from
    the same on-disk state as every other run: no derived layouts, scan or
    sink scratch left by an earlier process."""
    for d in (WORK / "run", ROOT / ".spark-warehouse"):
        shutil.rmtree(d, ignore_errors=True)
    for d in ("run/tmp", "run/local", "run/checkpoints", "run/data", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "run" / "tmp")
    # the short-lived JVM that spark-submit runs first to build the launch command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'run' / 'tmp'}"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)


def spark_conf() -> dict[str, str]:
    run = WORK / "run"
    return {
        "spark.sql.warehouse.dir": str(ROOT / ".spark-warehouse"),
        "spark.local.dir": str(run / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": str(run / "checkpoints"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def setup(tracer, proc_start: float) -> SimpleNamespace:
    """The set-up a user of the engine pays: import, registry, session,
    one trivial job. Timed from process start."""
    trace = tracer.new_trace()
    marks = {}
    t = time.perf_counter()
    with tracer.span("session.import", trace=trace):
        import asyncdatapipeline_spark  # noqa: F401
        from asyncdatapipeline_spark import registry, session
    marks["session.import_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.registry", trace=trace):
        registry.all_queries()
    marks["session.registry_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.get_spark", trace=trace):
        spark = session.get_spark("perfbench", master=f"local[{CORES}]",
                                  shuffle_partitions=CORES, extra_conf=spark_conf())
    marks["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("session.first_job", trace=trace):
        spark.range(1).count()
    marks["session.first_job_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - proc_start
    return SimpleNamespace(spark=spark, cores=CORES, setup_s=setup_s, session_marks=marks)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait
    for each to end."""
    import signal

    import sysinfo
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = sysinfo.children(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # already closed by spark.stop(); the JVM is waited for below
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[0] != "Z"]
        if procs:
            time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def finite(v: float) -> float:
    return float(v) if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("pipelines", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import sysinfo

    proc_start = time.perf_counter() - sysinfo.process_start_age()
    if not (ROOT / "asyncdatapipeline_spark" / "__init__.py").is_file():
        print(f"error: no engine package beside {HERE.name}/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    t = time.perf_counter()
    isolate()
    proc_start += time.perf_counter() - t  # the benchmark's own clean-up is not set-up

    import stats
    from spans import Tracer

    before = sysinfo.snapshot()
    tracer = Tracer(bool(args.trace))
    s = setup(tracer, proc_start)
    t_setup_cost = tracer.cost_s
    ctx = SimpleNamespace(spark=s.spark, cores=s.cores, seed=args.seed, seconds=args.seconds,
                          work=WORK / "run")
    phases = {"setup": time.perf_counter() - proc_start}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    wl = importlib.import_module(args.workload)
    wl.prepare(ctx)
    phase("prepare")
    cold = wl.cold(ctx, tracer)
    t_cold_cost = tracer.cost_s - t_setup_cost
    phase("cold")
    ops = cold["ops"]
    if hasattr(wl, "warm"):
        ops += wl.warm(ctx, Tracer(False))["ops"]
        phase("warm")
    # traced runs split the untraced window around the traced one, so that
    # warm-up still going on between the phases cancels in the overhead
    plain = wl.timed(ctx, Tracer(False), "plain", args.seconds / (2 if args.trace else 1))
    ops += plain["ops"]
    phase("timed")
    e2e = {"setup_s": s.setup_s, "cold_s": cold["wall"], **plain["e2e"]}
    detail: dict = {"cold": cold.get("detail"), "timed": plain.get("detail")}
    layers = None
    if args.trace:
        first_span = len(tracer.spans)
        traced = wl.timed(ctx, tracer, "traced", args.seconds)
        ops += traced["ops"]
        after = wl.timed(ctx, Tracer(False), "after", args.seconds / 2)
        ops += after["ops"]
        names = per_layer_names()
        layers = dict.fromkeys(names, 0.0)
        own, layer_detail = wl.layers(ctx, traced)
        layers.update(own)
        layers.update({k: s.session_marks[k] for k in SESSION_LAYERS})
        summary = tracer.summary(first_span)
        for name in SELF_SPANS:
            layers[f"self.{name}_s"] = summary.get(name, {}).get("self_s", 0.0)
        # signed so that a positive overhead is always a cost
        overhead = {k: (traced["e2e"][k] - (plain["e2e"][k] + after["e2e"][k]) / 2)
                    * (-1 if k in HIGHER_IS_BETTER else 1)
                    for k in traced["e2e"]}
        overhead.update({"setup_s": t_setup_cost, "cold_s": t_cold_cost})
        layers.update({f"overhead.{k}": v for k, v in overhead.items()})
        if not set(layers) <= set(names):
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(set(layers) - set(names))}")
        detail.update(layer_detail=layer_detail, traced_e2e=traced["e2e"], after_e2e=after["e2e"],
                      spans=tracer.dump())
        phase("traced")

    rss = sysinfo.peak_rss_mb(jvm_pid(s.spark))
    if layers is not None:
        layers.update({"process.peak_rss_mb": rss["total"], "process.python_peak_rss_mb": rss["python"],
                       "process.jvm_peak_rss_mb": rss["jvm"]})
    failed = stats.count_failed(ops)
    detail.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        e2e=e2e, layers=layers, session=s.session_marks, peak_rss_mb=rss, versions=sysinfo.versions(s.spark),
        context=sysinfo.delta(before, sysinfo.snapshot()),
        attempted=len(ops), failed=failed, error_rate=stats.error_rate(len(ops), failed),
        failures=[op for op in ops if stats.count_failed([op])],
    )
    shutdown(s.spark)
    phase("shutdown")
    detail["phases_s"] = phases
    out = WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(detail, indent=1, default=str) + "\n")

    if args.trace:
        metrics = {k: {"value": finite(v), "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": finite(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.startswith("overhead."):
        return E2E_UNITS[name.split(".", 1)[1]]
    for suffix, unit in (("_ms_p50", "ms"), ("_ms_tail", "ms"), ("_per_s", "1/s"), ("_s", "s"),
                         ("_bytes", "B"), ("_ratio", "ratio"), ("_mb", "MiB")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
