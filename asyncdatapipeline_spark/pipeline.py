"""The pipeline runtime — engine port of the reference's entire engine.

Reference: /root/reference/async_data_pipeline.go:219-345 (``Perform``):
a collector goroutine pulls batches from ``collectFunc`` and sends them
over a bounded channel to a processor goroutine running ``processFunc``,
with an idle-timeout shutdown, a backpressure timeout, sentinel
cancellation, an error taxonomy, and live metrics.

Two engine modes:

- :class:`Pipeline` — the direct analogue: a driver-side collector thread
  feeding a bounded queue consumed by a processor thread. Matches the
  reference's at-most-once, no-checkpoint behavior exactly (SURVEY.md §7
  hard-part 3). ``process`` receives each batch as a Spark DataFrame, so
  the *work* is still distributed across executors — only the batch
  hand-off is driver-side, exactly like the reference's channel.
- :class:`StreamingPipeline` — the Structured-Streaming-native form:
  ``readStream → foreachBatch(process)``, whose wrapper counts each
  micro-batch's rows into the :class:`MetricsHub`, and an idle watchdog
  that stops the query. (No ``StreamingQueryListener`` is registered; a
  listener feed is ROADMAP.md direction 4.) This is the shape that scales
  to a real cluster: the micro-batch engine replaces the channel,
  checkpointing replaces at-most-once, and executors replace the single
  consumer thread.

Both runtimes keep one idle rule: the idle window runs only while no
batch is in flight, and restarts when a data-carrying batch leaves flight.
In :class:`Pipeline` a batch is in flight from the moment ``collect()``
returns it until the processor receives it, so a slow ``createDataFrame``
is never idle time; in :class:`StreamingPipeline` a micro-batch is in
flight for its whole ``foreachBatch`` call.

Documented deviations from the reference (SURVEY.md §2 quirks, §7):

- Idle means "no *data-carrying* batch" — the reference resets its idle
  timer on nil batches too (async_data_pipeline.go:268, :313), which makes
  idle mean "collect itself blocked". We implement the documented intent.
- One side's failure stops the run cleanly with the primary error only;
  the reference leaves the other side to die by secondary timeout
  (async_data_pipeline.go:278-287).
- Metrics count *processed* rows; the reference counts collected rows at
  send time (:268-275).
"""

from __future__ import annotations

import enum
import queue
import threading
import time
from typing import Any, Callable, Iterable

import pandas as pd

from asyncdatapipeline_spark.config import PipelineConfig
from asyncdatapipeline_spark.errors import (
    CollectError,
    ProcessError,
    StopPipeline,
)
from asyncdatapipeline_spark.metrics import MetricsHub, PipelineMetrics


class CloseReason(enum.Enum):
    """Why the pipeline stopped (reference ``CloseReason``,
    async_data_pipeline.go:194-217)."""

    NONE = "none"
    IDLE_TIMEOUT = "idle_timeout"      # set at async_data_pipeline.go:335
    COLLECT_CANCEL = "collect_cancel"  # set at async_data_pipeline.go:259
    PROCESS_CANCEL = "process_cancel"  # set at async_data_pipeline.go:320

    def __str__(self) -> str:  # reference String(), :204-217
        return self.value


# collect() may return: a list of rows, a pandas DataFrame, a Spark
# DataFrame, or None ("no new data", reference async_data_pipeline.go:66).
CollectFunc = Callable[["Pipeline"], Any]
ProcessFunc = Callable[["Pipeline", Any], None]


class Pipeline:
    """Driver-threaded collect→process pipeline (reference ``Perform``,
    async_data_pipeline.go:219-345).

    The bounded ``queue.Queue(maxsize=max_workers)`` is the reference's
    ``make(chan []T, MaxWorkers)`` (:242): capacity = backpressure. As in
    the reference, there is exactly one consumer; real parallelism comes
    from Spark tasks *inside* each ``process`` call.
    """

    def __init__(
        self,
        config: PipelineConfig,
        collect: CollectFunc,
        process: ProcessFunc,
        spark=None,
        schema=None,
    ):
        self.config = config
        self._collect = collect
        self._process = process
        self._spark = spark
        self._schema = schema
        self.metrics = MetricsHub()
        self._cancel = threading.Event()
        self._reason = CloseReason.NONE
        self._reason_lock = threading.Lock()
        self._errors: list[BaseException] = []
        self._errors_lock = threading.Lock()

    # -- cancellation (reference ctx/cancel, :233) -----------------------
    def cancel(self) -> None:
        """External cancellation — the engine's ``ctx.cancel()``."""
        self._cancel.set()

    @property
    def cancelled(self) -> bool:
        return self._cancel.is_set()

    def _set_reason(self, reason: CloseReason) -> None:
        # First reason wins, like the reference's single write-then-cancel.
        with self._reason_lock:
            if self._reason is CloseReason.NONE:
                self._reason = reason

    def _append_error(self, err: BaseException) -> None:
        # reference errorMu-guarded errorList (:80-81)
        with self._errors_lock:
            self._errors.append(err)

    # -- helpers ---------------------------------------------------------
    def _to_batch(self, data: Any):
        """Normalize a collected batch; returns (payload, n_items).

        ``n_items is None`` means "count on the process side": for Spark
        DataFrame batches we must not run ``count()`` here — that executes
        the batch's plan on the collector thread (stalling the collect loop
        and eating into collect_timeout) and then ``process`` executes it
        again. Instead the payload is lazily local-checkpointed so the
        first action (process's, usually) materializes it once and the
        processor's deferred count reads the checkpointed blocks.
        """
        if isinstance(data, pd.DataFrame):
            n = len(data)
            if self._spark is not None:
                return self._spark.createDataFrame(data, schema=self._schema), n
            return data, n
        if isinstance(data, (list, tuple)):
            n = len(data)
            if self._spark is not None and n > 0:
                return (
                    self._spark.createDataFrame(list(data), schema=self._schema),
                    n,
                )
            return data, n
        if hasattr(data, "localCheckpoint") and hasattr(data, "sparkSession"):
            return data.localCheckpoint(eager=False), None
        return data, 0

    # -- the run (reference Perform, :219-345) ---------------------------
    def run(self, deadline: float | None = None) -> tuple[CloseReason, list[BaseException]]:
        """Start collector + processor threads, wait for completion,
        return ``(CloseReason, errors)`` (reference :343-344).

        ``deadline`` (seconds) is the engine's ``context.WithTimeout``.
        """
        start = time.monotonic()
        ch: queue.Queue = queue.Queue(maxsize=self.config.max_workers)
        self.metrics.reset()

        if deadline is not None:
            def deadline_watch() -> None:
                if not self._cancel.wait(timeout=deadline):
                    self._cancel.set()
            threading.Thread(target=deadline_watch, daemon=True, name="deadline").start()

        # The idle rule (module docstring): batches in flight = ``taken``
        # - ``received``. Only the collector writes ``taken``, only the
        # processor ``received``.
        taken = 0

        def collector() -> None:
            # reference collector goroutine, :247-291
            nonlocal taken
            while not self._cancel.is_set():
                try:
                    data = self._collect(self)
                    if data is None:
                        # "no new data" — deviation: not delivered, never
                        # in flight (documented-intent semantics).
                        time.sleep(0.01)
                        continue
                    taken += 1  # in flight from here, before normalization
                    batch = self._to_batch(data)
                except StopPipeline:
                    # reference ErrNeedCancel path, :258-261
                    self._set_reason(CloseReason.COLLECT_CANCEL)
                    self._cancel.set()
                    return
                except Exception as exc:  # reference :262-266
                    self._append_error(CollectError(str(exc), cause=exc))
                    self._cancel.set()  # deviation: clean stop, no secondary timeout
                    return
                # bounded send with backpressure timeout (reference
                # 3-way select, :267-288)
                sent_deadline = time.monotonic() + self.config.collect_timeout
                while True:
                    if self._cancel.is_set():
                        return
                    try:
                        ch.put(batch, timeout=0.05)
                        break
                    except queue.Full:
                        if time.monotonic() > sent_deadline:
                            self._append_error(
                                CollectError(
                                    f"collect timeout after {self.config.collect_timeout}s"
                                )
                            )
                            self._cancel.set()
                            return

        def processor() -> None:
            # reference processor goroutine, :293-340
            received = 0
            last_data = time.monotonic()
            while True:
                try:
                    payload, n_items = ch.get(timeout=0.05)
                except queue.Empty:
                    if self._cancel.is_set() and ch.empty():
                        return
                    idle_for = time.monotonic() - last_data
                    if received == taken and idle_for >= self.config.idle_time:
                        # idle timer fired (reference :334-337)
                        self._set_reason(CloseReason.IDLE_TIMEOUT)
                        self._cancel.set()
                        return
                    continue
                received += 1
                now = time.monotonic()
                # IdleDuration = inter-arrival gap (reference :306-310)
                self.metrics.record_idle(now - last_data)
                last_data = now
                t0 = time.monotonic()
                try:
                    self._process(self, payload)
                except StopPipeline:
                    # reference ErrNeedCancel from process, :319-322
                    self._set_reason(CloseReason.PROCESS_CANCEL)
                    self._cancel.set()
                    return
                except Exception as exc:  # reference :323-327
                    self._append_error(
                        ProcessError(str(exc), cause=exc, data=payload)
                    )
                    self._cancel.set()
                    return
                if n_items is None:
                    # Deferred Spark-DataFrame count: process()'s action
                    # materialized the lazy local checkpoint, so this
                    # count scans checkpointed blocks, not the original
                    # plan — the batch is computed exactly once.
                    try:
                        n_items = payload.count()
                    except Exception:  # pragma: no cover — metrics only
                        n_items = 0
                self.metrics.record_batch(n_items, time.monotonic() - t0)

        t_collect = threading.Thread(target=collector, daemon=True, name="collector")
        t_process = threading.Thread(target=processor, daemon=True, name="processor")
        t_collect.start()
        t_process.start()
        t_process.join()
        self._cancel.set()
        t_collect.join()
        # finalize TotalDuration (reference deferred finalize, :236-240)
        self.metrics.set_total_duration(time.monotonic() - start)
        with self._errors_lock:
            errors = list(self._errors)
        return self._reason, errors

    # -- metrics surface (reference :96-168) -----------------------------
    def get_current_metrics(self) -> PipelineMetrics:
        return self.metrics.current()

    def subscribe_metrics(self, callback, interval: float = 1.0):
        return self.metrics.subscribe(callback, interval)

    def unsubscribe_metrics(self, sub) -> None:
        self.metrics.unsubscribe(sub)

    def export_metrics(self) -> dict:
        return self.metrics.export()


class StreamingPipeline:
    """Structured-Streaming-native pipeline: the scale path.

    ``source_df`` (a streaming DataFrame) → ``writeStream.foreachBatch``
    (the reference's ``ProcessFunc`` slot, async_data_pipeline.go:69-71)
    with:

    - a wrapper whose own ``count()`` (with any ``observe`` aggregates
      riding the same job) feeds :class:`PipelineMetrics` — there is no
      listener bridge yet (ROADMAP.md direction 4);
    - an idle watchdog thread that calls ``query.stop()`` once no
      micro-batch has been in flight for ``idle_time`` seconds since the
      last data-carrying one left (engine implementation of the reference
      idle timer, async_data_pipeline.go:243/:313/:334-337);
    - sentinel/error handling in the foreachBatch wrapper
      (``StopPipeline`` → graceful stop + PROCESS_CANCEL; other
      exceptions → ``ProcessError`` + stop).
    """

    def __init__(
        self,
        spark,
        source_df,
        process: Callable[[Any, int], None],
        config: PipelineConfig | None = None,
        trigger: dict | None = None,
        observe: dict | None = None,
    ):
        self.spark = spark
        self.source_df = source_df
        self.config = config or PipelineConfig()
        self.metrics = MetricsHub()
        self._process = process
        self._trigger = trigger or {"processingTime": "500 milliseconds"}
        # name → unbound Column aggregate, observed on every micro-batch
        # in the SAME pass as the wrapper's row count (df.observe rides
        # the existing action as one accumulator per task — zero extra
        # jobs; the A16 metrics family gains per-query custom aggregates)
        self._observe = dict(observe) if observe else None
        if self._observe and "rows" in self._observe:
            raise ValueError(
                "observe aggregate name 'rows' is reserved for the row count"
            )
        self._reason = CloseReason.NONE
        self._reason_lock = threading.Lock()
        self._errors: list[BaseException] = []
        self._stop_requested = threading.Event()
        # The idle rule (module docstring): ``_foreach_batch`` holds
        # ``_in_flight`` while it runs. Both guarded by _last_data_lock.
        self._last_data = time.monotonic()
        self._in_flight = False
        self._last_data_lock = threading.Lock()
        self.query = None

    def _set_reason(self, reason: CloseReason) -> None:
        with self._reason_lock:
            if self._reason is CloseReason.NONE:
                self._reason = reason

    def _foreach_batch(self, batch_df, epoch_id: int) -> None:
        with self._last_data_lock:
            self._in_flight = True
        n = 0
        try:
            # The wrapper needs the batch's row count anyway (idle clock +
            # ItemCount). When custom observe aggregates are configured they
            # ride that same counting pass via df.observe — one job, one
            # scan, rows + customs together.
            if self._observe:
                from asyncdatapipeline_spark.metrics import attach_observation

                batch_df, obs = attach_observation(
                    batch_df, self._observe, f"epoch-{epoch_id}"
                )
                batch_df.count()  # matures the observation
                vals = obs.get
                n = int(vals["rows"])
                if n > 0:
                    self.metrics.record_observed(
                        {k: v for k, v in vals.items() if k != "rows"}
                    )
            else:
                n = batch_df.count()
            t0 = time.monotonic()
            try:
                self._process(batch_df, epoch_id)
            except StopPipeline:
                self._set_reason(CloseReason.PROCESS_CANCEL)
                self._stop_requested.set()
                return
            except Exception as exc:
                self._errors.append(ProcessError(str(exc), cause=exc, epoch_id=epoch_id))
                self._stop_requested.set()
                return
            if n > 0:
                self.metrics.record_batch(n, time.monotonic() - t0)
        finally:
            with self._last_data_lock:
                self._in_flight = False
                if n > 0:
                    self._last_data = time.monotonic()

    def run(self, deadline: float | None = None) -> tuple[CloseReason, list[BaseException]]:
        start = time.monotonic()
        self.metrics.reset()
        self._last_data = start  # no micro-batch can run before start()

        writer = (
            self.source_df.writeStream.outputMode("append")
            .trigger(**self._trigger)
            .foreachBatch(self._foreach_batch)
        )
        self.query = writer.start()

        # Idle watchdog (SURVEY.md §4 item 1): reads 0 idle while a
        # micro-batch is in flight; empty micro-batches do not reset it.
        hard_deadline = None if deadline is None else start + deadline
        try:
            while self.query.isActive:
                if self._stop_requested.is_set():
                    self.query.stop()
                    break
                with self._last_data_lock:
                    idle_for = 0.0 if self._in_flight else time.monotonic() - self._last_data
                if idle_for > self.config.idle_time:
                    self._set_reason(CloseReason.IDLE_TIMEOUT)
                    self.metrics.record_idle(idle_for)
                    self.query.stop()
                    break
                if hard_deadline is not None and time.monotonic() > hard_deadline:
                    self.query.stop()
                    break
                time.sleep(0.05)
            self.query.awaitTermination(timeout=30)
        finally:
            if self.query.isActive:
                self.query.stop()
        # fold a terminal streaming exception into the error list
        exc = None
        try:
            exc = self.query.exception()
        except Exception:
            pass
        if exc is not None:
            self._errors.append(CollectError(str(exc), cause=exc))
        self.metrics.set_total_duration(time.monotonic() - start)
        return self._reason, list(self._errors)

    def stop(self) -> None:
        self._stop_requested.set()
