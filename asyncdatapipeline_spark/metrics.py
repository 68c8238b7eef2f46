"""Pipeline metrics — engine analogue of ``PipelineMetrics``.

Reference: /root/reference/async_data_pipeline_metrics.go:16-46 (struct,
``GetIdleRatio``, ``Clone``) and async_data_pipeline.go:96-168
(``GetCurrentMetrics``, ``SubscribeMetrics`` ticker goroutine,
``UnsubscribeMetrics``, ``ExportMetrics``).

Deliberate deviation (SURVEY.md §2 A19): the reference counts *collected*
items at channel-send time and lets IdleDuration overlap
ProcessingDuration; the engine counts *processed* rows per micro-batch and
keeps the two durations disjoint.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field, replace
from typing import Callable


@dataclass
class PipelineMetrics:
    """Snapshot of pipeline runtime metrics (reference
    async_data_pipeline_metrics.go:16-27)."""

    total_duration: float = 0.0       # seconds, wall time of the run
    processing_duration: float = 0.0  # seconds spent inside process()
    idle_duration: float = 0.0        # seconds waiting for data
    batch_count: int = 0
    item_count: int = 0

    def get_idle_ratio(self) -> float:
        """IdleDuration / TotalDuration, 0-guarded
        (async_data_pipeline_metrics.go:29-35)."""
        if self.total_duration <= 0:
            return 0.0
        return self.idle_duration / self.total_duration

    def clone(self) -> "PipelineMetrics":
        """Deep-copy snapshot (async_data_pipeline_metrics.go:37-46)."""
        return replace(self)

    def export(self) -> dict:
        """Flat dict export (async_data_pipeline.go:157-168)."""
        return {
            "total_duration_seconds": self.total_duration,
            "processing_duration_seconds": self.processing_duration,
            "idle_duration_seconds": self.idle_duration,
            "batch_count": self.batch_count,
            "item_count": self.item_count,
            "idle_ratio": self.get_idle_ratio(),
        }


MetricsCallback = Callable[[PipelineMetrics], None]


class MetricsSubscription:
    """Handle returned by :meth:`MetricsHub.subscribe`
    (reference ``MetricsSubscription``, async_data_pipeline.go:84-94)."""

    def __init__(self, callback: MetricsCallback, interval: float):
        self.callback = callback
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None


class MetricsHub:
    """Mutex-guarded metrics accumulator + ticker-thread subscriptions.

    Mirrors the reference's locking discipline (``metricsMu``,
    async_data_pipeline.go:78) and its 1s-default ticker subscription loop
    (:103-136). In streaming mode the hub is fed the same way, inline, by
    ``StreamingPipeline``'s foreachBatch wrapper from its own row count;
    a ``StreamingQueryListener`` feed is ROADMAP.md direction 4.
    """

    DEFAULT_INTERVAL = 1.0

    def __init__(self) -> None:
        self._metrics = PipelineMetrics()
        self._lock = threading.Lock()
        self._subs: list[MetricsSubscription] = []
        self._subs_lock = threading.Lock()
        self._last_observed: dict = {}
        self._observed_totals: dict = {}

    # -- accumulation (called by the pipeline) ---------------------------
    def record_batch(self, item_count: int, processing_seconds: float) -> None:
        with self._lock:
            self._metrics.batch_count += 1
            self._metrics.item_count += item_count
            self._metrics.processing_duration += processing_seconds

    def record_observed(self, values: dict) -> None:
        """Fold a ``df.observe`` harvest into the hub: per-query custom
        aggregates riding the SAME pass as the batch's real action (the
        A16 family extension — zero extra scans). ``last_observed`` is
        the most recent batch's raw values; ``observed_totals`` sums
        numeric values across batches — correct for additive aggregates
        (count/sum, the mergeable-partial shapes); non-additive metrics
        should be read per-batch from ``last_observed``."""
        import numbers

        with self._lock:
            self._last_observed = dict(values)
            for k, v in values.items():
                # numbers.Number admits int/float AND decimal.Decimal
                # (decimal-armored sums are the house style); bools are
                # excluded — summing flags is never what anyone meant.
                if isinstance(v, bool) or not isinstance(v, numbers.Number):
                    continue
                self._observed_totals[k] = self._observed_totals.get(k, 0) + v

    def record_idle(self, seconds: float) -> None:
        with self._lock:
            self._metrics.idle_duration += seconds

    def set_total_duration(self, seconds: float) -> None:
        with self._lock:
            self._metrics.total_duration = seconds

    def reset(self) -> None:
        with self._lock:
            self._metrics = PipelineMetrics()
            self._last_observed = {}
            self._observed_totals = {}

    # -- accessors (reference :96-101, :157-168) -------------------------
    def current(self) -> PipelineMetrics:
        """Locked snapshot (``GetCurrentMetrics``,
        async_data_pipeline.go:96-101)."""
        with self._lock:
            return self._metrics.clone()

    def export(self) -> dict:
        out = self.current().export()
        with self._lock:
            if self._observed_totals:
                out["observed_totals"] = dict(self._observed_totals)
            if self._last_observed:
                out["last_observed"] = dict(self._last_observed)
        return out

    # -- subscriptions (reference :103-155) ------------------------------
    def subscribe(
        self, callback: MetricsCallback, interval: float = DEFAULT_INTERVAL
    ) -> MetricsSubscription:
        """Invoke ``callback`` with a metrics snapshot every ``interval``
        seconds on a dedicated thread (``SubscribeMetrics``,
        async_data_pipeline.go:103-136; interval <= 0 clamps to 1s,
        :105-107)."""
        if interval <= 0:
            interval = self.DEFAULT_INTERVAL
        sub = MetricsSubscription(callback, interval)

        def loop() -> None:
            while not sub._stop.wait(sub.interval):
                try:
                    sub.callback(self.current())
                except Exception:
                    # A misbehaving subscriber must not kill the ticker
                    # (reference callbacks are fire-and-forget).
                    pass

        sub._thread = threading.Thread(target=loop, daemon=True, name="metrics-ticker")
        with self._subs_lock:
            self._subs.append(sub)
        sub._thread.start()
        return sub

    def unsubscribe(self, sub: MetricsSubscription) -> None:
        """Stop the ticker and drop the subscription
        (``UnsubscribeMetrics``, async_data_pipeline.go:138-155)."""
        sub._stop.set()
        if sub._thread is not None:
            sub._thread.join(timeout=5)
        with self._subs_lock:
            if sub in self._subs:
                self._subs.remove(sub)

    def unsubscribe_all(self) -> None:
        with self._subs_lock:
            subs = list(self._subs)
        for sub in subs:
            self.unsubscribe(sub)


def attach_observation(df, aggs: dict, name: str):
    """Shared df.observe wiring for the batch helper AND the streaming
    pipeline wrapper: one Observation carrying the reserved ``rows``
    count plus the caller's aggregate Columns. ``rows`` is reserved —
    a user aggregate under that name would silently shadow the row
    count (Observation.get keeps the last duplicate alias), corrupting
    item_count and the idle clock."""
    from pyspark.sql import Observation, functions as F

    if "rows" in aggs:
        raise ValueError(
            "observe aggregate name 'rows' is reserved for the row count"
        )
    obs = Observation(name)
    extra = [col.alias(alias) for alias, col in aggs.items()]
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra), obs


def observe_batch(df, hub: "MetricsHub", name: str = "batch", **aggs):
    """Attach free row-count metrics to a BATCH DataFrame via
    ``df.observe`` and feed them into ``hub`` — the batch-side analogue
    of ``StreamingPipeline``'s per-micro-batch observation (same
    ``MetricsHub`` contract as the reference's ``ExportMetrics``,
    async_data_pipeline.go:157-168).

    Returns ``(observed_df, harvest)``: run any ONE action on
    ``observed_df``, then call ``harvest()`` to record the observed row
    count (plus wall time measured around the harvest barrier) into the
    hub and get the raw observation dict back.

    Why observe, not ``count()``: the metrics ride the SAME pass as the
    real action — zero extra jobs, zero extra scans. At 100 TB a
    separate count() doubles the I/O bill; an observation is an extra
    accumulator per task. (One action per observed frame: Spark
    reports an Observation only for the first action that executes it.)

    ``**aggs`` adds CUSTOM per-query aggregate Columns (name → Column,
    e.g. ``revenue=F.sum("price")``) observed in the same pass; the
    harvest records them into the hub (``record_observed``) beside the
    row count, so engine metrics carry query-specific aggregates with
    no extra job.
    """
    out, obs = attach_observation(df, aggs, name)
    t0 = time.monotonic()

    def harvest() -> dict:
        vals = obs.get  # blocks until an action has materialized df
        hub.record_batch(int(vals["rows"]), time.monotonic() - t0)
        if len(vals) > 1:
            hub.record_observed({k: v for k, v in vals.items() if k != "rows"})
        return dict(vals)

    return out, harvest
