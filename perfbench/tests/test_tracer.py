"""Tracer contracts the per-layer metrics rest on.

Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

from inputs import derive  # noqa: E402
from tracer import Tracer  # noqa: E402

# a 10% share of the sf0.01 base: sf0.001-sized inputs
SMALL_SHARE = 0.1


@pytest.fixture(scope="module")
def spark():
    from sales_forecast_pyspark_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", **{"spark.sql.shuffle.partitions": "8"})


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return derive(0, SMALL_SHARE, str(tmp_path_factory.mktemp("perfbench_small")))


def _traced_query(tracer, spark, sf_dir):
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    with tracer.span("op", "op") as op:
        with tracer.span("plans.queries.daily_rollup", "build") as build:
            df = QUERIES["daily_rollup"].builder(spark, sf_dir)
        with tracer.span("plans.exec", "exec") as exe:
            df.write.format("noop").mode("overwrite").save()
    return op, build, exe


def test_same_query_twice_gets_same_counts(spark, sf_dir):
    tracer = Tracer(spark, "test")
    try:
        first = _traced_query(tracer, spark, sf_dir)
        second = _traced_query(tracer, spark, sf_dir)
    finally:
        tracer.close()

    # one job group per span: a reused group would report the first
    # run's jobs again on the second
    assert [s.jobs for s in first] == [s.jobs for s in second]
    assert first[2].jobs > 0 and first[2].tasks > 0
    assert first[2].sql["scan_files"] > 0
    assert first[2].sql == second[2].sql
    assert len({s.id for s in first + second}) == 6


def test_parents_and_self_time(spark, sf_dir):
    tracer = Tracer(spark, "test")
    try:
        op, build, exe = _traced_query(tracer, spark, sf_dir)
    finally:
        tracer.close()

    assert op.parent is None
    assert build.parent == op.id and exe.parent == op.id
    for span in (op, build, exe):
        assert 0 <= span.self_time <= span.duration
    assert op.self_time == pytest.approx(op.duration - build.duration - exe.duration)
    # every job ran inside a child span, so the parent counts none itself
    assert op.jobs == 0


def test_instrument_wraps_every_binding_and_restores(spark, sf_dir):
    from sales_forecast_pyspark_spark.plans import evaluation, panel

    original = panel.daily_panel
    tracer = Tracer(spark, "test")
    try:
        with tracer.instrument([(panel, "daily_panel", "build")]):
            assert evaluation.daily_panel is panel.daily_panel is not original
            panel.daily_panel(spark, sf_dir)
    finally:
        tracer.close()
    assert panel.daily_panel is original and evaluation.daily_panel is original
    assert [s.name for s in tracer.spans] == ["plans.panel.daily_panel"]
