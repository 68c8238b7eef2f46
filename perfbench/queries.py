"""The ``queries`` workload: registry queries over seeded fixture-shaped
tables, one client in a closed loop.

Each query is built (``registry.get(q).fn``) and then consumed with a
full-output terminal: its whole result is collected into this process as a
pandas frame (over Arrow). The cold pass and the timed passes run the same
plans, so the cold pass warms exactly what is timed later. After all
timing, the cold pass's results are checked against the DuckDB oracles
and every later result against the cold pass's.
"""

from __future__ import annotations

import sys
import time

import checks
import datagen
import stats
import sysinfo

SF = 0.01
PASS_NOMINAL_S = 2.85  # nominal warm pass time, checks included, that sizes the pass count
WARM_PASSES = 4
# The mix, and the mechanism each query exercises.
MIX = (
    "q_agg_hash",          # scan-repair repartition on a single-row-group scan
    "q_dedup_clusters",    # connected_components localCheckpoint fixpoint
    "q_text_quality",      # the quality_exprs the stream's curation gate runs
    "q_udf_pandas",        # Arrow / Python worker path
    "q_window_session",    # streaming.batch_windows sessionization
)
MODULES = ("operators", "llm", "functions", "streaming")
COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes")
LAYER_NAMES = [f"queries.{m}.{k}" for m in MODULES
               for k in ("build_s", "exec_s", "build_jobs", *COUNTERS, "busy_ratio")]
LAYER_NAMES += [f"queries.{q}.{k}" for q in MIX for k in ("build_s", "exec_s")]


def module_of(name: str) -> str:
    from asyncdatapipeline_spark import registry

    return registry.get(name).fn.__module__.split(".")[1]


def prepare(ctx) -> None:
    ctx.sf_dir = str(ctx.work / "data" / "tables")
    ctx.table_rows = datagen.write_tables(ctx.seed, ctx.sf_dir, SF)


def _caches() -> dict[str, int]:
    """Sizes of the engine's module-level caches that survive across
    queries in one process."""
    out = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("asyncdatapipeline_spark.") and mod is not None:
            for attr, val in vars(mod).items():
                if attr.isupper() and "CACHE" in attr and isinstance(val, dict):
                    out[f"{mod_name}.{attr}"] = len(val)
    return out


def run_pass(ctx, label: str, tracer) -> dict:
    from asyncdatapipeline_spark import registry

    sc = ctx.spark.sparkContext
    per_query, ops, results, fills = {}, [], {}, {}
    t_pass = time.perf_counter()
    for name in MIX:
        before = _caches()
        trace = tracer.new_trace()
        rec = {"build_group": f"{label}:{name}:build", "exec_group": f"{label}:{name}:exec"}
        op = {"query": name, "pass": label}
        t0 = time.perf_counter()
        t1 = t2 = None
        try:
            sc.setJobGroup(rec["build_group"], rec["build_group"])
            with tracer.span("query.build", trace=trace, query=name):
                df = registry.get(name).fn(ctx.spark, ctx.sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(rec["exec_group"], rec["exec_group"])
            with tracer.span("query.consume", trace=trace, query=name):
                results[name] = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:
            op["error"] = f"{type(exc).__name__}: {exc}"
        t1 = t1 or time.perf_counter()
        t2 = t2 or time.perf_counter()
        rec.update(build_s=t1 - t0, exec_s=t2 - t1)
        per_query[name] = rec
        ops.append(op)
        grown = [k for k, v in _caches().items() if v > before.get(k, 0)]
        if grown:
            fills[name] = grown
    wall = time.perf_counter() - t_pass
    return {"wall": wall, "queries": per_query, "ops": ops, "results": results, "cache_fills": fills}


def oracle_results(ctx) -> dict:
    """Each mix query's DuckDB oracle over the same tables."""
    import duckdb
    from asyncdatapipeline_spark import registry

    out = {}
    with duckdb.connect() as con:
        for t in ctx.table_rows:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.sf_dir}/{t}.parquet')")
        for name in MIX:
            out[name] = con.sql(registry.get(name).oracle).df()
    return out


def check(ctx, res) -> None:
    """Check a pass's results outside any timing: the cold pass's against
    the DuckDB oracles, every later pass's against the cold pass's."""
    results = res.pop("results")
    for op in res["ops"]:
        got = results.get(op["query"])
        if got is not None:
            op["mismatches"] = checks.compare_digests(checks.digest(got), ctx.digests[op["query"]])


def cold(ctx, tracer) -> dict:
    """The first pass in a fresh JVM."""
    res = run_pass(ctx, "cold", tracer)
    oracle = oracle_results(ctx)
    ctx.digests = {}
    for op in res["ops"]:
        got = res["results"].get(op["query"])
        if got is not None:
            op["mismatches"] = checks.compare_frames(got, oracle[op["query"]])
            ctx.digests[op["query"]] = checks.digest(got)
    res.pop("results")
    res["detail"] = {"wall": res["wall"], "cache_fills": res["cache_fills"],
                     "queries": {q: {k: r[k] for k in ("build_s", "exec_s")}
                                 for q, r in res["queries"].items()}}
    return res


def warm(ctx, tracer) -> dict:
    """JIT warm-up: the pass after the cold one can take twice as long as
    the passes after it, and passes keep falling for about five more, so
    ``WARM_PASSES`` passes run untimed."""
    out = [run_pass(ctx, f"warm{i}", tracer) for i in range(WARM_PASSES)]
    for res in out:
        check(ctx, res)
    return {"ops": [op for p in out for op in p["ops"]]}


def timed(ctx, tracer, tag: str, seconds: float) -> dict:
    out = stats.run_passes(lambda i: run_pass(ctx, f"{tag}{i}", tracer),
                           stats.passes_for(seconds, PASS_NOMINAL_S), sysinfo.cpu_times)
    for p in out:
        check(ctx, p)
    lat = [1e3 * (r["build_s"] + r["exec_s"]) for p in out for r in p["queries"].values()]
    # The latency metric is each pass's mean query latency: the mix's
    # latencies form one cluster per query, and a median pooled over them
    # is the median of whichever query sits in the middle, as noisy as
    # that one query's few samples.
    mean_lat = [1e3 * sum(r["build_s"] + r["exec_s"] for r in p["queries"].values()) / len(MIX)
                for p in out]
    rows = sum(ctx.table_rows.values())
    return {
        "passes": out,
        "ops": [op for p in out for op in p["ops"]],
        "e2e": stats.pass_metrics([p["wall"] for p in out], [rows] * len(out), mean_lat),
        "detail": {"pass_s": [p["wall"] for p in out], "latency_ms": lat, "pass_mean_latency_ms": mean_lat,
                   "queries": {q: [p["queries"][q]["build_s"] + p["queries"][q]["exec_s"] for p in out]
                               for q in MIX},
                   "steal_share": [p["steal_share"] for p in out],
                   "cache_fills": [p["cache_fills"] for p in out]},
    }


def layers(ctx, res) -> tuple[dict, dict]:
    import statusstore

    cores = ctx.cores
    mods = {m: {"build_s": 0.0, "exec_s": 0.0, "build_jobs": 0, **{c: 0 for c in COUNTERS}}
            for m in MODULES}
    per_q = {}
    n = len(res["passes"])
    for p in res["passes"]:
        for name, r in p["queries"].items():
            m = mods[module_of(name)]
            m["build_s"] += r["build_s"] / n
            m["exec_s"] += r["exec_s"] / n
            m["build_jobs"] += len(statusstore.job_ids(ctx.spark, r["build_group"])) / n
            counters = statusstore.group_counters(ctx.spark, r["exec_group"])
            for c in COUNTERS:
                m[c] += counters[c] / n
            q = per_q.setdefault(name, {"build_s": 0.0, "exec_s": 0.0})
            q["build_s"] += r["build_s"] / n
            q["exec_s"] += r["exec_s"] / n
    out = {}
    for mod, m in mods.items():
        m["busy_ratio"] = m["executor_run_s"] / (m["exec_s"] * cores) if m["exec_s"] else 0.0
        out.update({f"queries.{mod}.{k}": v for k, v in m.items()})
    for name, q in per_q.items():
        out.update({f"queries.{name}.{k}": v for k, v in q.items()})
    return out, {"modules": {q: module_of(q) for q in MIX}}
