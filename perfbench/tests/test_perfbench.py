"""Tests of the benchmark itself: the plan walker on a tiny plan, the
generator's numpy/Spark parity, and that each output check passes on a
small run and fires when its expected value is wrong.
(pandas is imported at module level: pandas-UDF type hints resolve when
the UDF is defined.)

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import expect  # noqa: E402
import gen  # noqa: E402
import openloop  # noqa: E402
import traced  # noqa: E402
import workloads as wl  # noqa: E402
from planwalk import Tracer, parse_metric  # noqa: E402


def test_parse_metric_forms():
    assert parse_metric("20,000") == 20000
    assert parse_metric("264.4 KiB") == pytest.approx(264.4 * 1024)
    assert parse_metric("0.0 B") == 0
    assert parse_metric("32 ms") == pytest.approx(0.032)
    assert parse_metric("1.1 m") == pytest.approx(66)
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "26.8 s (6.6 s, 6.7 s, 6.8 s (stage 4.0: task 11))") == pytest.approx(26.8)
    assert parse_metric("(min, med, max (stageId: taskId)):\n"
                        "(1, 1, 1 (stage 1.0: task 5))") is None


def test_expectations_cover_every_line():
    hist = gen.line_histogram(10_000, 3)
    assert hist.sum() == 10_000 and (hist > 0).all()
    assert sum(expect.sink_counts(hist).values()) == 10_000
    assert sum(v[0] for v in expect.sink_level_agg(hist).values()) == 10_000


def test_redelivered_copies_are_exact_and_late():
    rows = gen.file_rows(20_000, 5, dup_pct=1)
    n_dup = len(rows) - 20_000
    assert 100 < n_dup < 300
    first_seen = {}
    for pos, r in enumerate(rows):
        if r in first_seen:
            assert pos > first_seen[r]
        else:
            first_seen[r] = pos


@pytest.fixture(scope="module")
def spark():
    """A plain session, not the benchmark's (wl.start_session points the
    environment into the checkout and stop_session ends the JVM): tests
    collected later in the same pytest process start their own session on
    the same JVM."""
    from logunifier_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_walker_on_tiny_plan(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus1(s: pd.Series) -> pd.Series:
        return s + 1

    tracer = Tracer(spark)
    with tracer.span("tiny") as sp:
        rows = (spark.range(0, 100, 1, 2)
                .groupBy((F.col("id") % 3).alias("k"))
                .agg(F.sum(plus1("id")).alias("s")).collect())
    assert sorted(r["k"] for r in rows) == [0, 1, 2]
    (ex,) = tracer.executions(sp)
    assert ex.wall_s > 0
    (py,) = ex.find("ArrowEvalPython")
    assert py.metrics["number of output rows"] == 100
    assert py.metrics["data sent to Python workers"] > 0
    (xchg,) = ex.find("Exchange")
    # partial aggregation: 3 keys in each of 2 input partitions
    assert xchg.metrics["shuffle records written"] == 6
    aggs = ex.find("HashAggregate")
    assert sorted(n.metrics["number of output rows"] for n in aggs) == [3, 6]
    final = next(n for n in aggs if n.metrics["number of output rows"] == 3)
    assert xchg in ex.below(final)
    assert py in ex.below(xchg)
    st = tracer.stage_totals(sp)
    assert st["jobs"] >= 1 and st["tasks"] >= 2 and st["task_s"] > 0


def test_generator_numpy_matches_spark(spark):
    table = gen.turns(3000, 7).to_pylist()
    frame = gen.spark_frame(spark, 3000, 7, 2).orderBy("ts").collect()
    assert len(frame) == len(table)
    for a, b in zip(table, frame):
        assert (a["conv_id"], a["turn_idx"], a["role"], a["text"], a["tool"]) == \
            (b["conv_id"], b["turn_idx"], b["role"], b["text"], b["tool"])
        assert a["ts"].replace(tzinfo=None) == b["ts"]


def test_unify_agg_check_fires(spark, monkeypatch):
    monkeypatch.setattr(wl.UnifyAgg, "N_TURNS", 2000)
    w = wl.UnifyAgg(spark, 4)
    assert w.job().problems == []
    key = next(iter(w.expected))
    rows, chars, ts = w.expected[key]
    w.expected[key] = (rows, chars + 1, ts)
    assert w.job().problems


def test_sink_write_check_fires(spark, monkeypatch):
    monkeypatch.setattr(wl.SinkWrite, "N_TURNS", 2000)
    w = wl.SinkWrite(spark, 4)
    op = w.job()
    assert op.problems == [] and op.cpu_s > 0
    wrong = dict(w.expected, loki_app=w.expected["loki_app"] + 1)
    problems = w.check(op.out, wrong, w.N_RANGES + 1)
    op.discard()
    # manifests, run_metrics sinks, run_metrics ranges, re-read sinks
    assert len(problems) == 4


def test_operator_check_fires(spark):
    om = wl.OperatorMix(spark)
    assert om.query("paragraph_dedup")[1] == []
    om.oracles["paragraph_dedup"] = dict(om.oracles["paragraph_dedup"], hash="0" * 64)
    assert om.query("paragraph_dedup")[1]


def shifted(want):
    """Wrong variants of an expected value: each number in it off by one,
    one at a time."""
    if isinstance(want, bool) or not isinstance(want, (int, tuple, dict)):
        raise TypeError(want)
    if isinstance(want, int):
        return [want + 1]
    if isinstance(want, dict):
        key = next(iter(want))
        return [{**want, key: v} for v in shifted(want[key])]
    return [want[:i] + (v,) + want[i + 1:] for i, x in enumerate(want) for v in shifted(x)]


def test_prefix_checks_fire(spark, monkeypatch):
    monkeypatch.setattr(wl.SinkWrite, "N_TURNS", 2000)
    w = wl.SinkWrite(spark, 4)
    steps, wants = traced.prefix_steps(spark, w.input), traced.prefix_wants(w)
    assert list(steps) == list(wants) == list(traced.PREFIXES)
    for name in traced.PREFIXES:
        got = steps[name]()
        assert traced.prefix_check(name, got, wants[name]) == [], name
        for wrong in shifted(wants[name]):
            assert traced.prefix_check(name, got, wrong), (name, wrong)


def test_traced_job_checks_fire(spark, monkeypatch):
    """The parse.rows guard and both reconciliations, on a small traced
    unify_agg job whose expectations are off."""
    assert traced.reconcile(1.0, 0.9) == []
    monkeypatch.setattr(wl.UnifyAgg, "N_TURNS", 2000)
    monkeypatch.setattr(traced, "RECONCILE_TOL", -1.0)
    monkeypatch.setattr(traced, "SLOT_TOL", -2.0)
    w = wl.UnifyAgg(spark, 4)
    w.n_unique += 1
    vals, checks = {k: 0.0 for k in traced.PER_LAYER}, []
    traced._traced_job(w, vals, checks)
    problems = [p for c in checks for p in c]
    assert vals["parse.rows"] == w.N_TURNS
    assert len(problems) == 3
    assert [p.split(":")[0] for p in problems] == [
        "parse.rows", "layer time / job wall within tolerance", "task time <= wall x slots"]


def test_stream_checks_fire(spark, monkeypatch):
    """A short open-loop replay passes its checks; its observations fail
    them against a wrong expectation."""
    monkeypatch.setattr(openloop, "FILE_TURNS", 50)
    monkeypatch.setattr(openloop, "OPEN_LOOP_S", 2)
    monkeypatch.setattr(openloop, "INTERVAL_S", 0.5)
    seen = []
    real = openloop.stream_checks
    monkeypatch.setattr(openloop, "stream_checks",
                        lambda *a: seen.append(a) or real(*a))
    vals, checks = {}, []
    openloop.run(spark, 4, vals, checks)
    assert checks == [[]]
    (drained, shipped, want, dropped), = seen
    assert vals["streaming.dropped_by_watermark"] == dropped == 0
    assert sum(shipped.values()) == 50 * 5
    assert real(False, shipped, want, dropped)
    for wrong in shifted(want):
        assert real(drained, shipped, wrong, dropped)
    assert real(drained, shipped, want, dropped, want_dropped=1)
