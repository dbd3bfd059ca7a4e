"""Per-request layer sums reconcile with request wall time.

For every measured request, construction (``queries`` span) plus
execution (``execute`` span) plus the request's own remainder equals the
request span, and the remainder (harness work between the layer calls)
stays within the stated tolerance: 10 ms plus 2% of the request. The
request span itself agrees with the latency the benchmark reports to the
same tolerance.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, self_time  # noqa: E402
from workloads import AnalystMix, Ctx  # noqa: E402


def tolerance(seconds: float) -> float:
    return 0.010 + 0.02 * seconds


@pytest.fixture(scope="module")
def spark():
    from fortune_500_financial_insights_pipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]")
    yield s


def test_request_layers_reconcile_with_wall_time(spark, tmp_path):
    wl = AnalystMix(seed=4, work=str(tmp_path))
    wl.keys = ["q_topk", "q_groupby_agg", "q_window_rank"]
    wl.generate()
    ctx = Ctx(spark=spark, tracer=Tracer(True, spark.sparkContext))
    ops = wl.round(ctx, 0)
    requests = ctx.tracer.by_layer("request")
    assert [o.name for o in ops] == [r.name for r in requests]
    assert all(o.ok for o in ops), wl.errors
    for op, req in zip(ops, requests):
        kids = ctx.tracer.children(req)
        assert sorted(k.layer for k in kids) == ["execute", "queries"]
        build = sum(k.duration for k in kids if k.layer == "queries")
        run = sum(k.duration for k in kids if k.layer == "execute")
        rest = self_time(req, kids)
        assert build + run + rest == pytest.approx(req.duration)
        assert 0 <= rest <= tolerance(req.duration), (op.name, rest, req.duration)
        assert abs(op.seconds - req.duration) <= tolerance(op.seconds)
        assert op.build_s == pytest.approx(build, abs=tolerance(op.seconds))
