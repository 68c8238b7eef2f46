"""The ingest half of the ``pipelines`` workload: the reference's own
collect -> process contract.

One collector pulls seeded in-memory batches of 2,000 event rows in a
closed loop through ``pipeline.Pipeline`` (queue depth ``max_workers`` =
the session's cores); ``process`` receives each batch as a Spark
DataFrame and runs one ``groupBy`` aggregation. Every pass ends the way
the reference's runs do: the source dries up and the idle timer closes
the run.
"""

from __future__ import annotations

import time

from asyncdatapipeline_spark.config import PipelineConfig
from asyncdatapipeline_spark.pipeline import CloseReason, Pipeline
from pyspark.sql import functions as F

import checks
import datagen
import stats

ROWS = 2_000
PER_PASS = 12  # batches in one pass
TIMED_SLOTS = 8  # distinct pass inputs the timed passes cycle through
# The idle window must outlast the first batch's normalisation in a fresh
# JVM, or the cold pass closes before its first batch arrives; later passes
# close sooner, since the idle wait ends every pass and is not timed.
IDLE_COLD_S = 1.0
IDLE_S = 0.5
WARM_PASSES = 4  # the warm-up pass is this many passes long
LAYER_NAMES = [
    "pipeline.handoff_ms_p50", "pipeline.handoff_ms_tail", "pipeline.process_ms_p50",
    "pipeline.process_ms_tail", "pipeline.process_busy_ratio", "pipeline.jobs_per_batch",
    "pipeline.collect_ms_p50", "pipeline.idle_ratio", "pipeline.handoff_batches_per_s",
]


def _expected(pdf) -> dict:
    g = pdf.groupby("event_type")["value_cents"].agg(["count", "sum"])
    return {k: (int(r["count"]), int(r["sum"])) for k, r in g.iterrows()}


def one_pass(ctx, batches, label: str, tracer, idle_s: float = IDLE_S) -> dict:
    """Run one Pipeline over ``batches``; returns timings and checks."""
    sc = ctx.spark.sparkContext
    todo = list(batches)
    collected: list[tuple[float, int, float]] = []  # (return time, trace id, collect s)
    seen: list[dict] = []
    run_span = {}

    def collect(p):
        if not todo:
            time.sleep(0.01)
            return None
        trace = tracer.new_trace()
        t_call = time.perf_counter()
        with tracer.span("ingest.collect", trace=trace, parent=run_span.get("id")):
            pdf = todo.pop(0)
        t_ret = time.perf_counter()
        collected.append((t_ret, trace, t_ret - t_call))
        return pdf

    def process(p, df):
        t_in = time.perf_counter()
        k = len(seen)
        t_collect, trace, collect_s = collected[k]
        group = f"{label}-b{k}"
        sc.setJobGroup(group, group)
        with tracer.span("ingest.process", trace=trace, parent=run_span.get("id")):
            rows = df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("s")
            ).collect()
        t_out = time.perf_counter()
        seen.append({"group": group, "collect_ret": t_collect, "collect_s": collect_s, "proc_in": t_in,
                     "proc_out": t_out, "agg": {r["event_type"]: (r["n"], r["s"]) for r in rows}})

    pipe = Pipeline(
        PipelineConfig(max_workers=ctx.cores, idle_time=idle_s, collect_timeout=60.0),
        collect, process, spark=ctx.spark, schema=datagen.EVENT_SCHEMA,
    )
    t0 = time.perf_counter()
    with tracer.span("ingest.run", trace=tracer.new_trace()) as rec:
        if rec is not None:
            run_span["id"] = rec["id"]
        try:
            reason, errors = pipe.run(deadline=45)
        except Exception as exc:  # the run itself blew up
            reason, errors = None, [exc]
    wall = (seen[-1]["proc_out"] if seen else time.perf_counter()) - t0

    ops = []
    for k, pdf in enumerate(batches):
        got = seen[k]["agg"] if k < len(seen) else None
        ops.append({"mismatches": checks.compare_aggregates(got, _expected(pdf))})
    exported = pipe.export_metrics()
    fed = ROWS * len(batches)
    total_n = sum(n for b in seen for n, _ in b["agg"].values())
    total_s = sum(s for b in seen for _, s in b["agg"].values())
    want_s = sum(int(pdf["value_cents"].sum()) for pdf in batches)
    ops.append({
        "reason": str(reason), "expected_reason": str(CloseReason.IDLE_TIMEOUT),
        "error": "; ".join(repr(e) for e in errors),
        "mismatches": checks.compare_totals(
            {"rows": total_n, "value_cents": total_s, "item_count": exported["item_count"]},
            {"rows": fed, "value_cents": want_s, "item_count": fed},
        ),
    })
    return {"wall": wall, "rows": fed, "batches": seen, "ops": ops, "export": exported,
            "detail": {"wall": wall, "export": exported}}


def _slot(ctx, i: int, n: int = 1) -> list:
    """Batches of ``n`` pass slots from slot ``i``: slot 0 is the cold
    pass, then the warm-up pass, then the ``TIMED_SLOTS`` that timed
    passes cycle through."""
    return ctx.batches[i * PER_PASS:(i + n) * PER_PASS]


def timed_slot(ctx, i: int) -> list:
    """Input of timed pass ``i``: the timed slots, in turn."""
    return _slot(ctx, 1 + WARM_PASSES + i % TIMED_SLOTS)


def latencies_ms(res) -> list[float]:
    """Per batch of a pass: collect-return -> process-return."""
    return [1e3 * (b["proc_out"] - b["collect_ret"]) for b in res["batches"]]


def prepare(ctx) -> None:
    ctx.batches = datagen.event_batches(ctx.seed, (1 + WARM_PASSES + TIMED_SLOTS) * PER_PASS, ROWS)


def cold(ctx, tracer) -> dict:
    return one_pass(ctx, _slot(ctx, 0), "cold", tracer, IDLE_COLD_S)


def warm(ctx, tracer) -> dict:
    """JIT warm-up: pass times keep falling for several passes after the
    cold one, so one long untimed pass runs before the timed ones; the
    rest of the fall is left to the median over the timed window."""
    return one_pass(ctx, _slot(ctx, 1, WARM_PASSES), "warm", tracer)


def layers(ctx, res) -> tuple[dict, dict]:
    """Per-layer metrics from a traced timed phase."""
    import statusstore

    bs = [b for p in res["passes"] for b in p["batches"]]
    handoff = [1e3 * (b["proc_in"] - b["collect_ret"]) for b in bs]
    proc = [1e3 * (b["proc_out"] - b["proc_in"]) for b in bs]
    jobs = sum(len(statusstore.job_ids(ctx.spark, b["group"])) for b in bs)
    busy = sum(proc) / 1e3 / sum(p["wall"] for p in res["passes"])
    idle = [p["export"]["idle_ratio"] for p in res["passes"]]
    return {
        "pipeline.handoff_ms_p50": stats.median(handoff),
        "pipeline.handoff_ms_tail": stats.tail(handoff)[1],
        "pipeline.process_ms_p50": stats.median(proc),
        "pipeline.process_ms_tail": stats.tail(proc)[1],
        "pipeline.process_busy_ratio": busy,
        "pipeline.jobs_per_batch": jobs / len(bs),
        "pipeline.collect_ms_p50": stats.median([1e3 * b["collect_s"] for b in bs]),
        "pipeline.idle_ratio": stats.median(idle),
        "pipeline.handoff_batches_per_s": handoff_ceiling(),
    }, {"samples": len(bs), "tail_q": stats.tail_q(len(bs))}


def handoff_ceiling() -> float:
    """The runtime's own ceiling: Pipeline with no Spark and a no-op
    process, in the reference benchmark's shape (100-row batches,
    ``max_workers=4``), measured to the last processed batch."""
    n_batches = 20_000
    batch = [{"id": i, "value": f"value_{i}"} for i in range(100)]
    state = {"sent": 0, "done": 0.0}

    def collect(p):
        if state["sent"] >= n_batches:
            time.sleep(0.05)
            return None
        state["sent"] += 1
        return batch

    def process(p, data):
        state["done"] = time.perf_counter()

    pipe = Pipeline(PipelineConfig(max_workers=4, idle_time=0.3, collect_timeout=5.0),
                    collect, process)
    t0 = time.perf_counter()
    reason, errors = pipe.run(deadline=60)
    if reason is not CloseReason.IDLE_TIMEOUT or errors or pipe.get_current_metrics().batch_count != n_batches:
        raise RuntimeError(f"handoff ceiling run failed: {reason} {errors}")
    return n_batches / (state["done"] - t0)
