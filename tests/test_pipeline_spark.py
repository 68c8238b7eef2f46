"""Spark-integrated pipeline runtime tests (SURVEY.md §2 A1-A8 on real
Spark): Pipeline hands batches to process as DataFrames; StreamingPipeline
runs readStream→foreachBatch with the idle watchdog, sentinel stop, and
error capture (the B4-B8 runtime rows)."""

from __future__ import annotations

import time

import pytest

from asyncdatapipeline_spark import (
    CloseReason,
    Pipeline,
    PipelineConfig,
    ProcessError,
    StopPipeline,
)
from asyncdatapipeline_spark.pipeline import StreamingPipeline


def test_pipeline_spark_batches(spark):
    """Collect returns plain rows; process receives a Spark DataFrame and
    does distributed work (the reference's processFunc slot, A2)."""
    done = []
    seen_rows = []

    def collect(p):
        if not done:
            done.append(1)
            return [{"id": i, "value": f"value_{i}"} for i in range(50)]
        time.sleep(5)
        return None

    def process(p, df):
        # df is a real DataFrame: run an aggregation on it
        seen_rows.append(df.groupBy().sum("id").collect()[0][0])

    pipe = Pipeline(
        PipelineConfig(max_workers=2, idle_time=3.0, collect_timeout=5),
        collect,
        process,
        spark=spark,
        schema="id long, value string",
    )
    reason, errors = pipe.run(deadline=20)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert seen_rows == [sum(range(50))]
    assert pipe.get_current_metrics().item_count == 50


@pytest.fixture()
def stream_dir(spark, sf_dir, tmp_path):
    """A one-file parquet dir replaying events as a file stream."""
    out = str(tmp_path / "stream_src")
    df = spark.read.parquet(f"{sf_dir}/events.parquet").limit(200)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    schema = spark.read.parquet(out).schema
    return out, schema


def test_streaming_pipeline_idle_close(spark, stream_dir):
    """File stream drains, no new files → idle watchdog stops the query
    with IDLE_TIMEOUT (A9 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)
    counts = []

    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: counts.append(df.count()),
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert sum(counts) == 200
    m = pipe.metrics.current()
    assert m.item_count == 200
    assert m.batch_count >= 1


def test_streaming_pipeline_slow_batch_is_not_idle(spark, tmp_path):
    """A micro-batch whose process outlasts idle_time is in flight, not
    idle: every file of the backlog is delivered before the idle close."""
    path = str(tmp_path / "three_files")
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.mode(
            "append"
        ).parquet(path)
    src = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    epochs = []

    def process(df, epoch):
        time.sleep(1.5)
        epochs.append(epoch)

    pipe = StreamingPipeline(
        spark, src, process, PipelineConfig(max_workers=2, idle_time=1)
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT
    assert errors == []
    assert len(epochs) == 3
    m = pipe.metrics.current()
    assert m.batch_count == 3
    assert m.item_count == 300


def test_streaming_pipeline_sentinel(spark, stream_dir):
    """StopPipeline from the sink → graceful PROCESS_CANCEL, no error
    recorded (A11 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    def process(df, epoch):
        raise StopPipeline()

    pipe = StreamingPipeline(
        spark, src, process, PipelineConfig(max_workers=2, idle_time=10)
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.PROCESS_CANCEL
    assert errors == []


def test_streaming_pipeline_process_error(spark, stream_dir):
    """Sink exception → ProcessError with epoch id, query stopped
    (A13-A14 port)."""
    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    def process(df, epoch):
        raise RuntimeError("sink boom")

    pipe = StreamingPipeline(
        spark, src, process, PipelineConfig(max_workers=2, idle_time=10)
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.NONE
    assert any(isinstance(e, ProcessError) for e in errors)
    err = next(e for e in errors if isinstance(e, ProcessError))
    assert err.epoch_id is not None


def test_streaming_pipeline_observe_metrics(spark, stream_dir):
    """A16-family extension: custom df.observe aggregates configured on
    the pipeline ride the wrapper's own counting pass (zero extra jobs)
    and land in the metrics export — observed totals must equal the
    batch aggregates computed independently over the same source."""
    from pyspark.sql import functions as F

    path, schema = stream_dir
    src = spark.readStream.schema(schema).parquet(path)

    pipe = StreamingPipeline(
        spark,
        src,
        lambda df, epoch: None,
        PipelineConfig(max_workers=2, idle_time=3, collect_timeout=10),
        observe={
            "value_sum": F.sum("value"),
            "n_purchases": F.count(F.when(F.col("event_type") == "purchase", 1)),
        },
    )
    reason, errors = pipe.run(deadline=60)
    assert reason is CloseReason.IDLE_TIMEOUT and errors == []

    batch = spark.read.parquet(path)
    want_sum = batch.agg(F.sum("value")).first()[0]
    want_purch = batch.filter("event_type = 'purchase'").count()

    exported = pipe.metrics.export()
    assert exported["item_count"] == 200
    # additive aggregates sum losslessly across micro-batches
    assert abs(exported["observed_totals"]["value_sum"] - want_sum) < 1e-6
    assert exported["observed_totals"]["n_purchases"] == want_purch
    assert set(exported["last_observed"]) == {"value_sum", "n_purchases"}
