"""The stream half of the ``pipelines`` workload:
``pipeline.StreamingPipeline`` draining a fixed backlog of small parquet
files through ``streaming.curation.curation_gate``.

The ``availableNow`` trigger with ``maxFilesPerTrigger=1`` makes the
input, not the clock, decide how many micro-batches run and how big they
are: one file per micro-batch. Each micro-batch's survivors are appended
to a parquet sink, which is checked against the gate run as one batch
over the same documents.
"""

from __future__ import annotations

import time

import pyarrow.parquet as pq
from asyncdatapipeline_spark.config import PipelineConfig
from asyncdatapipeline_spark.pipeline import CloseReason, StreamingPipeline
from asyncdatapipeline_spark.streaming.curation import curation_gate

import checks
import datagen
import stats

DOCS_PER_FILE = 100
N_FILES = 6  # backlog files, so micro-batches, in one pass
WARM_PASSES = 2
IDLE_S = 30.0  # far above the slowest micro-batch: see ``one_pass``
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
SINK_COLS = ["doc_id", "n_words", "stopword_ratio", "bucket", "split"]
DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
LAYER_NAMES = [f"stream.{ph}_ms_p50" for ph in PHASES] + [
    "stream.process_ms_p50", "stream.wrapper_ms_p50", "stream.jobs_per_batch"]


def prepare(ctx) -> None:
    ctx.n_files = N_FILES
    ctx.backlog = str(ctx.work / "data" / "backlog")
    docs = datagen.write_backlog(ctx.seed, ctx.backlog, ctx.n_files, DOCS_PER_FILE)
    ctx.rows_fed = docs.num_rows


def expected_sink(ctx) -> tuple[int, str]:
    """The gate as one batch over the whole backlog."""
    pdf = curation_gate(ctx.spark.read.parquet(ctx.backlog)).toPandas()
    return checks.checksum(pdf, SINK_COLS)


def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def one_pass(ctx, label: str, tracer) -> dict:
    """Drain the backlog once with a fresh query and sink.

    The idle watchdog counts an in-flight micro-batch as idle, so a short
    ``idle_time`` stops the run early with no error; ``IDLE_S`` sits far
    above any micro-batch, and a run that delivers fewer rows than it was
    fed counts as failed."""
    spark = ctx.spark
    sink = str(ctx.work / "sinks" / label)
    proc_ms: dict[int, float] = {}
    run_span = {}

    def process(batch_df, epoch_id):
        t_in = time.perf_counter()
        with tracer.span("stream.process", trace=tracer.new_trace(), parent=run_span.get("id"),
                         batch=epoch_id):
            curation_gate(batch_df).write.mode("append").parquet(sink)
        proc_ms[epoch_id] = 1e3 * (time.perf_counter() - t_in)

    source = (spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1)
              .parquet(ctx.backlog))
    pipe = StreamingPipeline(spark, source, process,
                             config=PipelineConfig(max_workers=ctx.cores, idle_time=IDLE_S),
                             trigger={"availableNow": True})
    jobs0 = _job_count(spark)
    t0 = time.perf_counter()
    with tracer.span("stream.run", trace=tracer.new_trace()) as rec:
        if rec is not None:
            run_span["id"] = rec["id"]
        try:
            reason, errors = pipe.run(deadline=45)
        except Exception as exc:
            reason, errors = None, [exc]
    wall = time.perf_counter() - t0
    jobs = _job_count(spark) - jobs0

    progress = [p for p in (pipe.query.recentProgress if pipe.query else []) if p.numInputRows > 0]
    items = pipe.metrics.current().item_count
    try:
        got = checks.checksum(pq.read_table(sink).to_pandas(), SINK_COLS)
    except Exception as exc:  # no sink at all
        got = (0, repr(exc))
    # one operation per file: each should have run as one micro-batch
    ops = [{"mismatches": [] if i < len(progress) else ["micro-batch never ran"]}
           for i in range(ctx.n_files)]
    ops.append({
        "reason": str(reason), "expected_reason": str(CloseReason.NONE),
        "error": "; ".join(repr(e) for e in errors),
        "mismatches": checks.compare_totals(
            {"item_count": items, "micro_batches": len(progress)},
            {"item_count": ctx.rows_fed, "micro_batches": ctx.n_files},
        ),
    })
    if getattr(ctx, "expected", None) is not None:
        ops[-1]["mismatches"] += checks.compare_checksums(got, ctx.expected)
    batches = [{"batch": p.batchId, "rows": p.numInputRows,
                **{k: float(v) for k, v in p.durationMs.items()}} for p in progress]
    return {"wall": wall, "rows": ctx.rows_fed, "batches": batches, "process_ms": proc_ms, "sink": got,
            "jobs": jobs, "ops": ops, "detail": {"wall": wall, "reason": str(reason), "jobs": jobs}}


def cold(ctx, tracer) -> dict:
    """The first pass in a fresh JVM. The batch twin the sinks are checked
    against runs only after it, so the cold pass stays cold."""
    res = one_pass(ctx, "cold", tracer)
    ctx.expected = expected_sink(ctx)
    res["ops"][-1]["mismatches"] += checks.compare_checksums(res["sink"], ctx.expected)
    return res


def warm(ctx, tracer) -> dict:
    """JIT warm-up: micro-batches keep getting faster for a few passes
    after the cold one, so ``WARM_PASSES`` passes run untimed; the rest
    of the fall is left to the median over the timed window."""
    out = [one_pass(ctx, f"warm{i}", tracer) for i in range(WARM_PASSES)]
    return {"ops": [op for p in out for op in p["ops"]]}


def latencies_ms(res) -> list[float]:
    """Per micro-batch of a pass: Spark's ``durationMs.triggerExecution``."""
    return [b["triggerExecution"] for b in res["batches"]]


def layers(ctx, res) -> tuple[dict, dict]:
    bs = [b for p in res["passes"] for b in p["batches"]]
    proc = {(i, b): ms for i, p in enumerate(res["passes"]) for b, ms in p["process_ms"].items()}
    add = {(i, b["batch"]): b["addBatch"] for i, p in enumerate(res["passes"]) for b in p["batches"]}
    out = {f"stream.{ph}_ms_p50": stats.median([b.get(ph, 0.0) for b in bs]) for ph in PHASES}
    out["stream.process_ms_p50"] = stats.median(list(proc.values()))
    out["stream.wrapper_ms_p50"] = stats.median(stats.wrapper_ms(add, proc))
    out["stream.jobs_per_batch"] = sum(p["jobs"] for p in res["passes"]) / len(bs)
    return out, {"samples": len(bs), "batches": bs}
