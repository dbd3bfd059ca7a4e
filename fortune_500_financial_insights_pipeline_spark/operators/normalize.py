"""Distribution-alignment transforms: quantile normalization, robust scaling.

Feature-engineering stages a model-training pipeline runs over warehouse
numerics before they reach a trainer: quantile normalization forces the
same empirical distribution onto every group (the batch-effect removal
trick from bioinformatics, equally used to align per-source score
distributions before mixing corpora), and robust scaling centers/spreads
by median/IQR so heavy-tailed financial series don't let outliers set the
scale the way (x-mean)/std does.

Scale shape: quantile normalization is two window passes (rank within
group, then average across groups at each rank — the cross-group step is
a groupBy on the rank, cardinality = max group size) plus an equi-join
back on (group, rank). Robust scaling is one exact-percentile aggregate
per group (percentile is a sort-based exact aggregate — fine per group;
for billion-row groups swap approx_percentile in at a documented accuracy
cost) broadcast-joined back. No driver collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from fortune_500_financial_insights_pipeline_spark.functions.deterministic import davg


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_tiebreak: list[str] | None = None,
    out_col: str = "qnorm",
) -> DataFrame:
    """Replace each value with the mean of the values holding the same
    within-group rank across ALL groups.

    Ranks are row_number over (value, tiebreak...) so the map is total and
    deterministic; groups of unequal size average whichever groups have a
    row at that rank (the standard ragged-panel extension). The rank mean
    uses the exact fixed-point interior, so results are engine-portable.
    """
    tb = order_tiebreak or []
    w = W.partitionBy(group_col).orderBy(F.col(value_col).asc(), *[F.col(c).asc() for c in tb])
    ranked = df.withColumn("__rk", F.row_number().over(w))
    rank_means = ranked.groupBy("__rk").agg(davg(value_col).alias(out_col))
    return ranked.join(rank_means, "__rk").drop("__rk")


def robust_scale(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "scaled",
) -> DataFrame:
    """(x - median) / (p75 - p25), per group, exact continuous percentiles.

    Continuous (interpolated) percentile matches quantile_cont; both
    engines interpolate lo + (hi-lo)*frac over the sorted values, and the
    final ratio is one IEEE expression. Degenerate IQR (all-equal group)
    yields NULL, not a division blow-up.
    """
    stats = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).alias("__med"),
        F.percentile(F.col(value_col).cast("double"), F.lit(0.25)).alias("__p25"),
        F.percentile(F.col(value_col).cast("double"), F.lit(0.75)).alias("__p75"),
    )
    iqr = F.col("__p75") - F.col("__p25")
    return (
        df.join(F.broadcast(stats), group_col)
        .withColumn(
            out_col,
            F.when(iqr != 0, (F.col(value_col).cast("double") - F.col("__med")) / iqr),
        )
        .drop("__med", "__p25", "__p75")
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    out_col: str = "w_median",
) -> DataFrame:
    """Exact weighted (lower) median per group: the smallest value whose
    cumulative weight reaches half the total — volume-weighted midpoints
    (what share of QUANTITY trades below this price?) rather than
    row-weighted ones.  Definition: min v with 2·cumw(v) >= totw, the
    discrete lower weighted median; no interpolation, so the result is
    always an observed value and fully engine-portable.

    Exactness: weights must be integer-valued (cast to long); cumulative
    and total weights are exact long window sums.  Within a run of equal
    values the cumulative sum is tie-order dependent, but only the
    threshold-crossing VALUE is emitted, which is invariant under any
    permutation of equal values.

    Scale shape: one shuffle on ``group_cols``; the running sum and the
    per-group total share the same window family (one sort); the final
    min is a partial-aggregated groupBy.  The per-group sort runs as ONE
    task per group — skew by construction when groups are few.  THREE
    alternatives were measured and rejected at sf0.1 (guide §1 empirical
    loop; all value-identical, all slower because an extra corpus pass
    costs ~0.6 s while the 200k-row per-group sort costs ~0.15 s):

    * round 9: pre-aggregate weights by (group, value) before the window
      — 0.62 → 1.11 s (price_cents ~unique, the exchange reduced nothing);
    * round 10: two-level selection on a per-group equal-width value-bucket
      histogram (min/max stats pass + histogram pass + crossing-bucket
      scan) — 1.0 → 2.08 s;
    * round 10: same with a FIXED bucket width (drops the stats pass; two
      scans total) — 0.99 → 1.56 s.

    The two-level histogram form is the right shape only once
    rows-per-group is large enough that the single-task sort dominates
    two map-side-aggregated scans; no caller reaches that scale, so it is
    not kept.
    """
    w_ord = W.partitionBy(*group_cols).orderBy(value_col)
    cumw = F.sum(F.col(weight_col).cast("long")).over(
        w_ord.rowsBetween(W.unboundedPreceding, 0)
    )
    totw = F.sum(F.col(weight_col).cast("long")).over(
        W.partitionBy(*group_cols)
    )
    return (
        df.select(*group_cols, F.col(value_col), cumw.alias("__cw"), totw.alias("__tw"))
        .where(F.col("__cw") * 2 >= F.col("__tw"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias(out_col))
    )
