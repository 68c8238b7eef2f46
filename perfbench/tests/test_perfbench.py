"""Tests of the benchmark's own arithmetic and correctness checks.

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# -- percentiles: a tail needs ten samples beyond it ---------------------

@pytest.mark.parametrize("n", [20, 24, 30, 57, 99, 100, 250])
def test_tail_keeps_ten_samples_beyond(n):
    q = stats.tail_q(n)
    assert stats.beyond(n, q) >= 10
    if q < 90:
        assert stats.beyond(n, q + 1) < 10


def test_tail_is_p90_from_a_hundred_samples():
    assert stats.tail_q(100) == 90.0
    assert stats.tail_q(1000) == 90.0
    assert stats.tail_q(24) == 60.0


def test_too_few_samples_for_any_tail():
    with pytest.raises(ValueError):
        stats.tail_q(19)


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50.5
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.tail(xs) == (90.0, pytest.approx(90.1))


# -- self time -------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0),
             _span(4, 2, 1.5, 2.0)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(7.0)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once():
    # collect and process run on two threads under one pipeline run
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 6.0), _span(3, 1, 4.0, 8.0)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, None, 2.0, 4.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0)]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


def test_tracer_links_spans_and_reports_self_time():
    tr = Tracer(True)
    t = tr.new_trace()
    with tr.span("outer", trace=t) as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and inner["trace"] == t
    summary = tr.summary()
    assert summary["outer"]["self_s"] == pytest.approx(
        summary["outer"]["total_s"] - summary["inner"]["total_s"])
    assert tr.cost_s > 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x") as rec:
        assert rec is None
    assert tr.spans == [] and tr.cost_s == 0.0


# -- wrapper = addBatch - process ---------------------------------------

def test_wrapper_pairs_by_batch_id():
    add = {0: 300.0, 1: 250.0, 2: 400.0}
    proc = {1: 200.0, 0: 180.0}
    assert stats.wrapper_ms(add, proc) == [120.0, 50.0]


# -- passes: a fixed count, medians ---------------------------------------

def test_pass_metrics_take_medians_over_passes():
    e2e = stats.pass_metrics([1.0, 4.0, 2.0], [100, 100, 100], [5.0, 1.0, 3.0, 9.0])
    assert e2e == {"pass_s": 2.0, "rows_per_s": 50.0, "latency_p50_ms": 4.0}


def _cpu(busy, steal, idle=0.0):
    return {"user": busy, "nice": 0.0, "system": 0.0, "idle": idle, "iowait": 0.0,
            "irq": 0.0, "softirq": 0.0, "steal": steal}


def test_steal_share_leaves_idle_time_out():
    assert stats.steal_share(_cpu(10, 1, 50), _cpu(28, 3, 500)) == pytest.approx(0.1)
    assert stats.steal_share(_cpu(0, 0, 0), _cpu(0, 0, 10)) == 0.0


def _probe(steals):
    """CPU times whose steal between consecutive pass probes follows ``steals``."""
    t = {"busy": 0.0, "steal": 0.0}
    calls = iter(range(10 ** 6))

    def probe():
        k = next(calls)
        if k % 2:  # the probe after pass k // 2
            t["busy"] += 1.0
            t["steal"] += steals[k // 2] / (1 - steals[k // 2])
        return _cpu(t["busy"], t["steal"])
    return probe


def test_run_passes_keeps_every_pass_with_its_steal():
    out = stats.run_passes(lambda i: {"i": i}, 4, _probe([0.0, 0.3, 0.0, 0.2, 0.5]))
    assert [p["i"] for p in out] == [0, 1, 2, 3]
    assert [p["steal_share"] for p in out] == pytest.approx([0.0, 0.3, 0.0, 0.2])


def test_pass_count_follows_seconds_with_a_floor():
    assert stats.passes_for(16, 2.0) == 8
    assert stats.passes_for(16, 2.5) == 6
    assert stats.passes_for(2, 2.5) == 3


# -- error rate ------------------------------------------------------------

def test_failures_count_once_per_operation():
    ops = [
        {},
        {"error": "boom"},
        {"reason": "idle_timeout", "expected_reason": "idle_timeout"},
        {"reason": "none", "expected_reason": "idle_timeout"},
        {"mismatches": ["x"]},
        {"error": "e", "mismatches": ["y"], "reason": "a", "expected_reason": "b"},
        {"error": "", "mismatches": []},
    ]
    failed = stats.count_failed(ops)
    assert failed == 4
    assert stats.error_rate(len(ops), failed) == pytest.approx(4 / 7)


def test_error_rate_rejects_impossible_counts():
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


# -- each correctness check catches a planted wrong expected value --------

def test_ingest_checks_catch_planted_values():
    got = {"click": (10, 500), "view": (5, 70)}
    assert checks.compare_aggregates(got, {"click": (10, 500), "view": (5, 70)}) == []
    assert checks.compare_aggregates(got, {"click": (10, 501), "view": (5, 70)})
    assert checks.compare_aggregates(got, {"click": (10, 500)})
    assert checks.compare_aggregates(None, {"click": (10, 500)})
    totals = {"rows": 4000, "value_cents": 123, "item_count": 4000}
    assert checks.compare_totals(totals, dict(totals)) == []
    assert checks.compare_totals(totals, {**totals, "item_count": 3999})
    op = {"mismatches": checks.compare_totals(totals, {**totals, "rows": 1})}
    assert stats.count_failed([op]) == 1


def test_stream_checksum_ignores_order_but_not_content():
    df = pd.DataFrame({"doc_id": [1, 2, 3], "split": ["train", "test", "train"],
                       "stopword_ratio": [0.1, 0.25, 0.0]})
    cols = list(df.columns)
    want = checks.checksum(df, cols)
    assert checks.compare_checksums(checks.checksum(df.iloc[::-1], cols), want) == []
    changed = df.copy()
    changed.loc[1, "stopword_ratio"] = 0.26
    assert checks.compare_checksums(checks.checksum(changed, cols), want)
    assert checks.compare_checksums(checks.checksum(df.iloc[:2], cols), want)
    doubled = pd.concat([df, df.iloc[[0]]])
    assert checks.compare_checksums(checks.checksum(doubled, cols), want)


def test_query_oracle_comparison_catches_planted_values():
    got = pd.DataFrame({"b": [1.5, None], "a": ["x", "y"]})
    want = pd.DataFrame({"a": ["y", "x"], "b": [float("nan"), 1.5]})
    assert checks.compare_frames(got, want) == []
    assert checks.compare_frames(got, want.assign(b=[float("nan"), 1.5000001]))
    assert checks.compare_frames(got, want.iloc[:1])
    assert checks.compare_frames(got, want.rename(columns={"b": "c"}))
    ts = pd.DataFrame({"t": [pd.Timestamp("2024-01-01 00:00:01")], "v": [[1, 2]]})
    assert checks.compare_frames(ts, ts.copy()) == []
    assert checks.compare_frames(ts, ts.assign(v=[[1, 3]]))


def test_repeat_executions_compare_by_digest():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["x", "y", "z"]})
    want = checks.digest(a)
    assert checks.compare_digests(checks.digest(a.iloc[::-1]), want) == []
    assert checks.compare_digests(checks.digest(a[["v", "s", "k"]]), want) == []
    assert checks.compare_digests(checks.digest(a.assign(v=[0.5, 1.5, 2.6])), want)
    assert checks.compare_digests(checks.digest(a.iloc[:2]), want)
    assert checks.compare_digests(checks.digest(a.astype({"k": "int32"})), want)
    arrays = pd.DataFrame({"v": [[1, 2], [3]]})
    assert checks.compare_digests(checks.digest(arrays), checks.digest(arrays.copy())) == []
    assert checks.compare_digests(checks.digest(arrays.assign(v=[[1, 2], [4]])), checks.digest(arrays))


# -- inputs are a function of the seed -------------------------------------

def test_tables_repeat_for_a_seed(tmp_path):
    a = datagen.write_tables(7, str(tmp_path / "a"), 0.001)
    b = datagen.write_tables(7, str(tmp_path / "b"), 0.001)
    c = datagen.write_tables(8, str(tmp_path / "c"), 0.001)
    assert a == b == c
    for name in a:
        pa_ = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert pa_ == (tmp_path / "b" / f"{name}.parquet").read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_backlog_and_batches_repeat_for_a_seed(tmp_path):
    d1 = datagen.write_backlog(3, str(tmp_path / "x"), 4, 25)
    d2 = datagen.write_backlog(3, str(tmp_path / "y"), 4, 25)
    assert d1.equals(d2) and d1.num_rows == 100
    files = sorted((tmp_path / "x").iterdir())
    assert len(files) == 4
    b1, b2 = datagen.event_batches(5, 3, 50), datagen.event_batches(5, 3, 50)
    assert all(x.equals(y) for x, y in zip(b1, b2))
    assert not b1[0].equals(datagen.event_batches(6, 1, 50)[0])
