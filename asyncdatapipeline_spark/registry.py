"""Central query registry backing the driver contract.

Every operator from SURVEY.md §2B registers here with a ``queries()``
callable and (where SQL-expressible) a DuckDB ``oracle_sql()`` twin.
``__spark_entry__.py`` is a thin re-export of this module.

Contract notes (README of /root/repo/__spark_entry__.py):
- column names must match between the Spark result and the oracle SQL —
  the driver sorts columns by name before hashing values;
- oracles run on DuckDB views named after the fixture tables.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from asyncdatapipeline_spark.sources.tables import no_scan_repair

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QueryDef"] = {}


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str
    scan_repair: bool = True


def query(
    name: str, oracle: str | None = None, scan_repair: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle.

    ``scan_repair=False`` turns the scan-parallelism repair
    (``sources/tables.py``) off for every fixture scan the query builds.
    It is declared where the repair's round-robin shuffle is a pure
    extra barrier — scans feeding a keyed exchange or light map work
    (OPTIMIZATION_r12.md "per-query opt-outs", AB_REPAIR_r13.json) — or
    would break the plan shape the operator exists to show (q_unpivot,
    q_join_bloom). The decorator then returns a ``functools.wraps``
    wrapper that runs the body inside ``no_scan_repair()``, so the
    module attribute and the registry hold the same object.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        if not scan_repair:
            body = fn

            @functools.wraps(body)
            def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
                with no_scan_repair():
                    return body(spark, sf_dir)

        _REGISTRY[name] = QueryDef(
            name, fn, oracle, (fn.__doc__ or "").strip(), scan_repair
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    import asyncdatapipeline_spark.operators.scans  # noqa: F401
    import asyncdatapipeline_spark.operators.projection  # noqa: F401
    import asyncdatapipeline_spark.operators.joins  # noqa: F401
    import asyncdatapipeline_spark.operators.aggregates  # noqa: F401
    import asyncdatapipeline_spark.operators.windows  # noqa: F401
    import asyncdatapipeline_spark.operators.sort  # noqa: F401
    import asyncdatapipeline_spark.operators.setops  # noqa: F401
    import asyncdatapipeline_spark.operators.layout  # noqa: F401
    import asyncdatapipeline_spark.operators.timeseries  # noqa: F401
    import asyncdatapipeline_spark.operators.profile  # noqa: F401
    import asyncdatapipeline_spark.operators.cdc  # noqa: F401
    import asyncdatapipeline_spark.sources.sinks  # noqa: F401
    import asyncdatapipeline_spark.operators.graph  # noqa: F401
    import asyncdatapipeline_spark.operators.evalmetrics  # noqa: F401
    import asyncdatapipeline_spark.operators.tpch  # noqa: F401
    import asyncdatapipeline_spark.functions.scalar  # noqa: F401
    import asyncdatapipeline_spark.functions.udfs  # noqa: F401
    import asyncdatapipeline_spark.llm.dedup  # noqa: F401
    import asyncdatapipeline_spark.llm.similarity  # noqa: F401
    import asyncdatapipeline_spark.llm.text  # noqa: F401
    import asyncdatapipeline_spark.llm.filtering  # noqa: F401
    import asyncdatapipeline_spark.llm.packing  # noqa: F401
    import asyncdatapipeline_spark.llm.multimodal  # noqa: F401
    import asyncdatapipeline_spark.streaming.batch_windows  # noqa: F401
    import asyncdatapipeline_spark.operators.subqueries  # noqa: F401
    import asyncdatapipeline_spark.operators.orderstats  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: qd.fn for name, qd in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: qd.oracle for name, qd in sorted(_REGISTRY.items()) if qd.oracle
    }


def get(name: str) -> QueryDef:
    _load_all()
    return _REGISTRY[name]
