"""The ``pipelines`` workload: the engine's two pipeline runtimes, round
by round.

Each round runs one ingest pass (``pipeline.Pipeline`` pulling 12
in-memory batches of 2,000 events into one ``groupBy`` each; see
``ingest``) and then one stream pass (``pipeline.StreamingPipeline``
draining 6 parquet files of 100 documents through ``curation_gate``, one
file per micro-batch; see ``stream``). Both are dominated by per-batch
overhead, not by data. They share one workload so that one process's
set-up and JIT warm-up serve both, which leaves a timed window long
enough to span the host's speed swings of tens of seconds.

End to end, a round's wall is the two passes' walls, its rows are the
events plus the documents, and a batch's latency is collect-return ->
process-return for an ingest batch and ``triggerExecution`` for a
micro-batch.
"""

from __future__ import annotations

import ingest
import stats
import stream
import sysinfo

ROUND_NOMINAL_S = 4.1  # nominal round time, idle close included, that sizes the round count


def prepare(ctx) -> None:
    ingest.prepare(ctx)
    stream.prepare(ctx)


def cold(ctx, tracer) -> dict:
    """The first pass of each runtime in a fresh JVM."""
    a, b = ingest.cold(ctx, tracer), stream.cold(ctx, tracer)
    return {"wall": a["wall"] + b["wall"], "ops": a["ops"] + b["ops"],
            "detail": {"ingest": a["detail"], "stream": b["detail"]}}


def warm(ctx, tracer) -> dict:
    return {"ops": ingest.warm(ctx, tracer)["ops"] + stream.warm(ctx, tracer)["ops"]}


def one_round(ctx, i: int, label: str, tracer) -> dict:
    a = ingest.one_pass(ctx, ingest.timed_slot(ctx, i), label, tracer)
    b = stream.one_pass(ctx, label, tracer)
    return {"wall": a["wall"] + b["wall"], "rows": a["rows"] + b["rows"], "ingest": a, "stream": b,
            "ops": a["ops"] + b["ops"]}


def timed(ctx, tracer, tag: str, seconds: float) -> dict:
    out = stats.run_passes(lambda i: one_round(ctx, i, f"{tag}{i}", tracer),
                           stats.passes_for(seconds, ROUND_NOMINAL_S), sysinfo.cpu_times)
    lat_in = [x for r in out for x in ingest.latencies_ms(r["ingest"])]
    lat_st = [x for r in out for x in stream.latencies_ms(r["stream"])]
    return {
        "passes": out,
        "ops": [op for r in out for op in r["ops"]],
        "e2e": stats.pass_metrics([r["wall"] for r in out], [r["rows"] for r in out], lat_in + lat_st),
        "detail": {"pass_s": [r["wall"] for r in out],
                   "ingest_pass_s": [r["ingest"]["wall"] for r in out],
                   "stream_pass_s": [r["stream"]["wall"] for r in out],
                   "ingest_latency_ms": lat_in, "stream_latency_ms": lat_st,
                   "latency_tail": stats.tail(lat_in + lat_st),
                   "steal_share": [r["steal_share"] for r in out],
                   "export": [r["ingest"]["export"] for r in out],
                   "stream_jobs": [r["stream"]["jobs"] for r in out]},
    }


def layers(ctx, res) -> tuple[dict, dict]:
    a, da = ingest.layers(ctx, {"passes": [r["ingest"] for r in res["passes"]]})
    b, db = stream.layers(ctx, {"passes": [r["stream"] for r in res["passes"]]})
    return {**a, **b}, {"ingest": da, "stream": db}
