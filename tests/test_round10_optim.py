"""Round-10 optimization equivalence + plan gates.

Each test pins an optimization from OPTIMIZATION_r10.md to the exact
output of the shape it replaced (same discipline as
tests/test_round9_optim.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from fortune_500_financial_insights_pipeline_spark.catalog import load_table


def _window_weighted_median(df, group_cols, value_col, weight_col, out="w_median"):
    """The reference one-window form (the production default)."""
    w_ord = W.partitionBy(*group_cols).orderBy(value_col)
    cumw = F.sum(F.col(weight_col).cast("long")).over(
        w_ord.rowsBetween(W.unboundedPreceding, 0)
    )
    totw = F.sum(F.col(weight_col).cast("long")).over(W.partitionBy(*group_cols))
    return (
        df.select(*group_cols, F.col(value_col), cumw.alias("__cw"), totw.alias("__tw"))
        .where(F.col("__cw") * 2 >= F.col("__tw"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias(out))
    )


def test_weighted_median_matches_window(spark):
    from fortune_500_financial_insights_pipeline_spark.operators.normalize import (
        weighted_median,
    )

    rnd = random.Random(7)
    rows = []
    for g in ["a", "b", "c", "lone"]:
        n = 1 if g == "lone" else rnd.randrange(1, 400)
        for _ in range(n):
            v = None if rnd.random() < 0.08 else rnd.randrange(-50, 50)
            rows.append((g, v, rnd.randrange(0, 5)))
    # a group whose weight mass sits entirely on NULL values (min non-null
    # answer path)
    rows += [("nulls", None, 10), ("nulls", 3, 1), ("nulls", 7, 1)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = sorted(map(tuple, weighted_median(df, ["g"], "v", "w").collect()))
    want = sorted(map(tuple, _window_weighted_median(df, ["g"], "v", "w").collect()))
    assert got == want


def test_jaccard_pairs_dedup_after_verify_matches_brute(spark):
    """The round-10 no-dedup-before-verify + hashed-id-intersect form must
    emit exactly the brute-force pair set, counts included."""
    import itertools

    from fortune_500_financial_insights_pipeline_spark.operators.setjoin import (
        jaccard_pairs_exact,
    )

    rnd = random.Random(23)
    shared = [f"s{i}" for i in range(14)]
    docs = []
    for i in range(50):
        uniq = [f"u{i}_{j}" for j in range(rnd.randrange(1, 6))]
        take = rnd.sample(shared, rnd.randrange(0, 11))
        toks = sorted(set(uniq + take))
        rnd.shuffle(toks)
        docs.append((i, toks))
    df = spark.createDataFrame(docs, "doc_id long, grams array<string>")
    for t in (0.5, 0.8):
        got = {
            (r.id_a, r.id_b, r.n_i, r.n_u)
            for r in jaccard_pairs_exact(
                df, "doc_id", "grams", t, return_counts=True
            ).collect()
        }
        want = set()
        for (ia, ga), (ib, gb) in itertools.combinations(docs, 2):
            a, b = set(ga), set(gb)
            if len(a & b) / len(a | b) >= t:
                want.add((min(ia, ib), max(ia, ib), len(a & b), len(a | b)))
        assert got == want, t
    # no duplicate pairs despite the removed candidate dedup
    out = jaccard_pairs_exact(df, "doc_id", "grams", 0.5).collect()
    assert len(out) == len({(r.id_a, r.id_b) for r in out})


def test_probe_cells_transform_matches_inline(spark):
    """probe_cells_col's transform-over-literal-table form routes every
    vector to the same cells as the old k-inlined-expressions form."""
    from fortune_500_financial_insights_pipeline_spark.operators.similarity import (
        _dot,
        _norm,
        md5_sample_centroids,
        probe_cells_col,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = md5_sample_centroids(emb, k=8)

    # reference: the pre-round-10 inlined construction
    vn = _norm(F.col("embedding"))
    entries = []
    import math

    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        sim = F.round(
            _dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c]))
            / (vn * F.lit(cn)),
            6,
        )
        entries.append(F.struct((-sim).alias("negsim"), F.lit(i).alias("cell")))
    ranked = F.sort_array(F.array(*entries))
    old = F.transform(F.slice(ranked, 1, 2), lambda s: s["cell"])

    got = emb.select(
        "vec_id",
        probe_cells_col("embedding", centroids, 2).alias("new"),
        old.alias("old"),
    )
    assert got.where(F.col("new") != F.col("old")).count() == 0
