"""Round-5 advisor-fix regressions: degenerate-input behavior of the
small-graph local twins (empty edge lists must degrade like the
distributed loops, not crash in numpy), null-endpoint handling in
connected_components (both paths drop them identically — pandas must
never NaN-coerce ids on the local path), and mixed-width id columns
(local path mirrors the distributed union's type widening)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _empty_edges(spark):
    return spark.createDataFrame([], "src long, dst long")


def test_hits_empty_edges_returns_empty_frame(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.pagerank import hits

    out = hits(_empty_edges(spark))  # local path: 0 rows <= threshold
    assert out.count() == 0
    assert out.columns == ["role", "node", "score"]


def test_pagerank_ppr_empty_edges_return_empty_frames(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
    )

    assert pagerank(_empty_edges(spark)).count() == 0
    seeds = spark.createDataFrame([(1,)], "node long")
    assert personalized_pagerank(_empty_edges(spark), seeds).count() == 0


def test_cc_null_endpoints_dropped_both_paths(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (6, 7)],
        T.StructType(
            [
                T.StructField("id_a", T.LongType(), True),
                T.StructField("id_b", T.LongType(), True),
            ]
        ),
    )
    local = {
        (r.id, r.comp) for r in connected_components(edges).collect()
    }
    dist = {
        (r.id, r.comp)
        for r in connected_components(edges, local_finish_edges=0).collect()
    }
    expect = {(1, 1), (2, 1), (3, 1), (6, 6), (7, 6)}
    assert local == expect
    assert dist == expect


def test_cc_mixed_width_ids_widen_like_distributed(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a int, id_b long")
    local = connected_components(edges)
    dist = connected_components(edges, local_finish_edges=0)
    assert local.schema == dist.schema
    assert {(r.id, r.comp) for r in local.collect()} == {
        (r.id, r.comp) for r in dist.collect()
    }


def test_rank_operators_null_endpoints_dropped_both_paths(spark):
    """pagerank / personalized_pagerank / hits drop NULL endpoints before
    the driver-finish gate, like connected_components: the driver twin
    must not see pandas' float-coerced ids, and the distributed loop must
    not keep NULL as a vertex."""
    from fortune_500_financial_insights_pipeline_spark.operators.pagerank import (
        hits,
        pagerank,
        personalized_pagerank,
    )

    schema = "src long, dst long"
    clean = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], schema)
    dirty = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (None, 2), (3, None)], schema
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ops = {
        "pagerank": lambda e, t: pagerank(e, max_iter=3, local_threshold_edges=t),
        "ppr": lambda e, t: personalized_pagerank(
            e, seeds, max_iter=3, local_threshold_edges=t
        ),
        "hits": lambda e, t: hits(e, max_iter=3, local_threshold_edges=t),
    }
    for name, op in ops.items():
        want = sorted(map(tuple, op(clean, 0).collect()))
        assert None not in {r[-2] for r in want}, name
        for threshold in (0, 100):
            got = sorted(map(tuple, op(dirty, threshold).collect()))
            assert got == want, (name, threshold)
