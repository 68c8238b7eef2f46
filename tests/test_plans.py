"""Plan-shape regression gate: every check in plans/audit.py must hold.

The audit CLI (tools/audit_plans.py) is the interactive loop; this test
makes the same checks part of the pytest gate so a plan regression (lost
pushdown, a broadcast that became a sort-merge, a WindowGroupLimit that
stopped firing) fails CI, not just a manual run. Runs at sf0.001 — plan
*shapes* are scale-invariant here (all dims stay under the broadcast
threshold at every fixture SF).
"""

from __future__ import annotations

import pytest

from asyncdatapipeline_spark.plans.audit import run_audit


def test_all_plan_checks_hold(spark, sf_dir):
    failures = [
        f"{name}: {desc}" for name, desc, ok in run_audit(spark, sf_dir) if not ok
    ]
    assert not failures, f"plan checks failed: {failures}"


@pytest.mark.heavy
def test_no_unpartitioned_windows_registry_wide(spark, sf_dir):
    """r8 verdict #1: a registry-wide assertion that NO query plans a
    Window/WindowGroupLimit with an empty or all-foldable partition
    spec (single-partition execution + `WindowExec: No Partition
    Defined`). Round 7 claimed this class closed, but the check was
    per-query regexes — q_ts_runs_test's `c * 0` keys constant-folded
    (non-nullable count) and the audit couldn't see it. This walks the
    OPTIMIZED logical plan (post-folding) of every registered query;
    bounded-frame windows must ride the fold-proof `bounded_part` key,
    and any deliberate exception must be in WINDOW_SCAN_ALLOWLIST with
    a reason."""
    from asyncdatapipeline_spark.plans.audit import (
        WINDOW_SCAN_ALLOWLIST,
        scan_registry_windows,
    )

    offenders = scan_registry_windows(spark, sf_dir)
    bad = {k: v for k, v in offenders.items() if k not in WINDOW_SCAN_ALLOWLIST}
    assert not bad, f"unpartitioned windows outside allowlist: {bad}"


def test_sql_pipe_plans_identically_to_ansi(spark, sf_dir):
    """q_sql_pipe's claim: pipe syntax is pure parse-time sugar — the
    optimized plan must contain the same operator sequence as the ANSI
    form (same join strategy, same aggregate, same pushed filters)."""
    import re

    from asyncdatapipeline_spark import registry

    pipe_df = registry.get("q_sql_pipe").fn(spark, sf_dir)
    ansi_df = spark.sql(registry.all_oracles()["q_sql_pipe"])

    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # operator names only: strip expression ids / literals
        return [
            re.match(r"[+\- :]*([A-Za-z]+)", ln).group(1)
            for ln in plan.splitlines()
            if re.match(r"[+\- :]*[A-Za-z]", ln)
        ]

    assert shape(pipe_df) == shape(ansi_df)


def _repair_opt_outs() -> list[str]:
    """The queries registered with ``scan_repair=False``."""
    from asyncdatapipeline_spark import registry

    return [n for n in registry.all_queries() if not registry.get(n).scan_repair]


def test_scan_repair_opt_outs_are_their_module_attributes():
    """``@query(..., scan_repair=False)`` returns the wrapper it
    registers, so importing callers and the registry run one object,
    and the wrapper reads as the body: same module (perfbench groups
    its per-module metrics by ``fn.__module__``), name and docstring."""
    import importlib

    from asyncdatapipeline_spark import registry

    names = _repair_opt_outs()
    assert len(names) >= 64
    for name in names:
        fn = registry.get(name).fn
        body = fn.__wrapped__
        assert fn.__module__ == body.__module__ != registry.__name__, name
        assert fn.__name__ == body.__name__, name
        assert getattr(importlib.import_module(fn.__module__), fn.__name__) is fn
        # some modules .format() the attribute's docstring after
        # registration, which rewrites the wrapper's copy only
        assert fn.__doc__ and body.__doc__, name
        assert fn.__doc__.splitlines()[0] == body.__doc__.splitlines()[0], name


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_repair_opt_outs_carry_no_roundrobin_exchange(spark, sf_dir):
    """Every ``scan_repair=False`` query plans without the repair's
    round-robin exchange, so neither a refactor nor a change to the
    repair can silently re-enable it there."""
    from asyncdatapipeline_spark import registry

    names = _repair_opt_outs()
    assert len(names) >= 64
    bad = [
        name
        for name in names
        if "RoundRobinPartitioning"
        in _physical(registry.get(name).fn(spark, sf_dir))
    ]
    assert not bad, f"repair re-enabled on opted-out queries: {bad}"


def test_repair_still_engages_for_compute_heavy_scans(spark, sf_dir):
    """The inverse gate: the measured repair winners (single-task scan
    feeding heavy map-side compute) must KEEP the round-robin repair —
    sf0.001 lineitem is over the 2000-row floor and single-row-group,
    so the repair fires at any realistic test core count."""
    from asyncdatapipeline_spark import registry

    for name in ("q_ml_vif", "q_agg_winsorized_corr"):
        plan = _physical(registry.get(name).fn(spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, f"{name} lost the repair"
