"""Pipeline configuration — engine analogue of ``AsyncDataPipelineConfig``.

Reference: /root/reference/async_data_pipeline.go:51-63 (fields) and
:170-192 (constructor validation: ``MaxWorkers > 0`` at :176-178,
``MaxWorkers <= NumCPU*4`` at :181-185).

In the reference ``MaxWorkers`` only sizes the hand-off channel buffer —
processing is single-threaded (async_data_pipeline.go:242, :294-340). In
the engine it maps to real data parallelism: the number of concurrent
in-flight micro-batches is bounded by the micro-batch engine, and
``max_workers`` bounds per-batch task parallelism via
``spark.sql.shuffle.partitions`` guidance.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from asyncdatapipeline_spark.errors import InvalidMaxWorkersError


def _cpu_count() -> int:
    return os.cpu_count() or 1


@dataclass(frozen=True)
class PipelineConfig:
    """Engine pipeline configuration.

    Attributes:
        max_workers: parallelism bound. Reference semantics: channel buffer
            size (async_data_pipeline.go:242). Engine semantics: task
            parallelism hint for the micro-batch run.
        idle_time: seconds without any *data-carrying* batch before the
            pipeline shuts itself down (reference idle timer,
            async_data_pipeline.go:243, :313, :334-337). The window runs
            only while no batch is in flight, so a slow batch (its
            ``createDataFrame`` or a long micro-batch) is never idle
            time; it restarts when a data-carrying batch leaves flight.
            The reference's timer resets even on nil batches; the engine
            does not (documented deviation, SURVEY.md §7).
        collect_timeout: seconds the source may stall before the run is
            aborted with a timeout CollectError (reference documents this
            as a collect timeout but implements a *send* timeout,
            async_data_pipeline.go:60-62 vs :278-287; the engine
            implements the documented semantic: staleness of source
            progress).
    """

    max_workers: int = 4
    idle_time: float = 60.0
    collect_timeout: float = 30.0

    def __post_init__(self) -> None:
        limit = _cpu_count() * 4
        if self.max_workers <= 0:
            raise InvalidMaxWorkersError(
                f"invalid max_workers {self.max_workers}: must be > 0"
            )
        if self.max_workers > limit:
            raise InvalidMaxWorkersError(
                f"invalid max_workers {self.max_workers}: must be <= {limit} (4x cpu count)"
            )
        if self.idle_time <= 0:
            raise ValueError(f"idle_time must be > 0, got {self.idle_time}")
        if self.collect_timeout <= 0:
            raise ValueError(
                f"collect_timeout must be > 0, got {self.collect_timeout}"
            )
