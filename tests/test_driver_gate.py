"""The driver-finish gate (operators/compact.collect_if_small) and the one
seeded rank recurrence behind pagerank / personalized_pagerank.

The gate is one bounded ``limit(cap + 1).toPandas()`` job; these tests pin
its boundaries, that the graph operators' small paths start no more jobs
than connected components' (which already used the one-job form), and that
pagerank is personalized pagerank with every node as a seed."""

from __future__ import annotations

import random
import uuid


def _jobs_started(spark, build) -> int:
    """Spark jobs started while ``build()`` runs, counted through a job
    group on this thread."""
    sc = spark.sparkContext
    group = f"gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rand_edges(spark, n_nodes=30, n_edges=80, seed=11):
    rnd = random.Random(seed)
    rows = sorted(
        {(rnd.randrange(n_nodes), rnd.randrange(n_nodes)) for _ in range(n_edges)}
    )
    return spark.createDataFrame(rows, "src long, dst long")


def test_collect_if_small_boundaries(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.compact import (
        collect_if_small,
    )

    df = spark.range(5).selectExpr("id", "id * 2 AS twice")
    pdf = collect_if_small(df, 5)
    assert pdf is not None
    assert sorted(pdf["id"].tolist()) == [0, 1, 2, 3, 4]
    assert list(pdf.columns) == ["id", "twice"]
    assert collect_if_small(df, 4) is None
    empty = collect_if_small(df.where("id < 0"), 5)
    assert empty is not None and len(empty) == 0
    assert list(empty.columns) == ["id", "twice"]
    got = []
    assert _jobs_started(spark, lambda: got.append(collect_if_small(df, 0))) == 0
    assert got == [None]


def test_pagerank_is_ppr_with_every_node_seeded(spark):
    from pyspark.sql import functions as F

    from fortune_500_financial_insights_pipeline_spark.operators.pagerank import (
        pagerank,
        personalized_pagerank,
    )

    edges = _rand_edges(spark)
    every = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    for threshold in (0, 1000):  # distributed loop, then the driver twin
        pr = pagerank(edges, max_iter=4, local_threshold_edges=threshold)
        ppr = personalized_pagerank(
            edges, every, max_iter=4, local_threshold_edges=threshold
        )
        got = sorted(map(tuple, pr.collect()))
        assert got == sorted(map(tuple, ppr.collect())), threshold
        assert len(got) == every.distinct().count()
        assert all(r > 0 for _, r in got)


def test_rank_small_paths_start_no_more_jobs_than_cc(spark):
    """Construction-job pin: on one graph, the small (driver-finish) paths
    of pagerank and hits start no more Spark jobs than connected
    components' small path — all three go through the same one-job gate."""
    from fortune_500_financial_insights_pipeline_spark.operators.graph import (
        connected_components,
    )
    from fortune_500_financial_insights_pipeline_spark.operators.pagerank import (
        hits,
        pagerank,
    )

    edges = _rand_edges(spark, seed=17)
    builds = {
        "cc": lambda: connected_components(edges, src="src", dst="dst"),
        "pagerank": lambda: pagerank(edges),
        "hits": lambda: hits(edges),
    }
    for build in builds.values():  # first pass pays one-off warm-up jobs
        build()
    jobs = {name: _jobs_started(spark, build) for name, build in builds.items()}
    assert jobs["cc"] >= 1
    assert jobs["pagerank"] <= jobs["cc"], jobs
    assert jobs["hits"] <= jobs["cc"], jobs
