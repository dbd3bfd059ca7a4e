"""PageRank as an iterative DataFrame loop — the link-analysis quality
weight large-scale curation pipelines attach to crawl domains (the same
role harmonic-centrality lists play for web corpora; SURVEY.md §2.11
training-data extras, no counterpart in the reference).

Bit-deterministic by construction: ranks are fixed-point longs (scale
1e9) and each contribution is ``rank // out_degree`` (integer floor
division), so per-iteration sums are exact under any partitioning or
shuffle order — a float PageRank differs in the low bits run-to-run,
which would poison downstream value-hash comparisons. Floor division
leaks a few units of mass per node per round; the teleport term does not
renormalize it, so ranks are a deterministic lower bound within
``n_nodes * max_iter`` scale-units of the float fixpoint — negligible at
scale 1e9 (pinned against a sequential Python replay of the identical
integer recurrence in tests).

Spark-idiomatic iteration, same scaffold as graph.connected_components:
one shuffle per round (contribution groupBy), out-degrees folded into the
edge table once, lineage cut with localCheckpoint every round so the plan
stays O(1) deep. ``pagerank`` is the every-node-is-a-seed case of the one
seeded recurrence ``personalized_pagerank`` runs, on both the distributed
and the driver-side path. Fixed iteration count (no convergence collect) keeps
every round's job identical — at 100 TB you want 10 predictable
shuffle rounds, not a driver round-trip deciding a data-dependent 11th.
Dangling mass (sinks) is DROPPED, not redistributed: a sink's rank
contributes nothing the next round, the teleport term stays constant, so
on graphs with sinks the ranks are a deterministic lower bound and do NOT
sum to ~n_nodes * RANK_SCALE. Rank ORDER is what downstream curation
consumes, and dropping preserves it for the oracle-replayable integer
recurrence; redistribution (summing sink mass per round) would add one
scalar aggregate per iteration if calibrated totals are ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from fortune_500_financial_insights_pipeline_spark.operators.compact import collect_if_small

RANK_SCALE = 1_000_000_000  # fixed-point: 9 fractional digits

# Fixed-round rank iterations are overhead-bound, not data-bound, on small
# graphs: every round costs a constant few shuffle stages regardless of row
# count. At or below this edge count the operators run the IDENTICAL
# integer recurrence driver-side (vectorized int64 numpy — same floor
# division, same fixed-point fold, bit-equal results pinned by test) after
# the one-job gate compact.collect_if_small, the same two-phase shape as
# graph.connected_components. Above it — or with the threshold set to 0 —
# the distributed loop runs unchanged; at the 100 TB design point the
# distributed form is the real path and the threshold is never reached.
LOCAL_EDGE_THRESHOLD = 500_000


def _rank_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct (src, dst) edges. A NULL endpoint is not a vertex: it is
    dropped before the gate, so both paths see the same graph and the
    driver twins never get pandas' NaN-coerced float ids."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )


def _rank_recurrence_local(
    spark,
    rows,
    node_type,
    damping: float,
    max_iter: int,
    seed_set=None,
) -> DataFrame:
    """Driver-side twin of the distributed fixed-point recurrence:
    vectorized int64 numpy with the same floor divisions, so every rank
    is bit-identical to the shuffle-based loop (pinned by test). With
    ``seed_set`` this computes personalized pagerank (teleport mass to
    seeds only); without, uniform pagerank."""
    import numpy as np

    if not rows:  # degenerate empty graph: match the distributed loop's
        # empty (node, rank_fp) frame instead of crashing in numpy
        schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("rank_fp", T.LongType())]
        )
        return spark.createDataFrame([], schema)
    srcs = [r[0] for r in rows]
    dsts = [r[1] for r in rows]
    nodes = sorted(set(srcs) | set(dsts))
    idx = {n: i for i, n in enumerate(nodes)}
    si = np.fromiter((idx[s] for s in srcs), np.int64, len(srcs))
    di = np.fromiter((idx[d] for d in dsts), np.int64, len(dsts))
    out_deg = np.zeros(len(nodes), np.int64)
    np.add.at(out_deg, si, 1)
    DENOM = 1000
    d_num = int(round(damping * DENOM))
    tp_val = (DENOM - d_num) * RANK_SCALE // DENOM
    if seed_set is None:
        ranks = np.full(len(nodes), RANK_SCALE, dtype=np.int64)
        teleport = np.full(len(nodes), tp_val, dtype=np.int64)
    else:
        is_seed = np.fromiter(
            (1 if n in seed_set else 0 for n in nodes), np.int64, len(nodes)
        )
        ranks = is_seed * RANK_SCALE
        teleport = is_seed * tp_val
    for _ in range(max_iter):
        contrib = ranks[si] // out_deg[si]
        in_sum = np.zeros(len(nodes), np.int64)
        np.add.at(in_sum, di, contrib)
        ranks = teleport + (in_sum // DENOM) * d_num + ((in_sum % DENOM) * d_num) // DENOM
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("rank_fp", T.LongType())]
    )
    return spark.createDataFrame(
        [(n, int(r)) for n, r in zip(nodes, ranks)], schema
    )


def _hits_local(spark, rows, node_type, max_iter: int) -> DataFrame:
    """Driver-side twin of the distributed HITS loop, replicating its
    deterministic numerics exactly: dsum's per-row ROUND(x*1e6)->long
    fixed-point fold, and ROUND(x, 6) max-normalization. Spark's ROUND on
    doubles is HALF_UP over the shortest decimal representation
    (BigDecimal.valueOf), which Python's banker's-rounding round() does
    NOT match — Decimal(repr(x)).quantize(..., ROUND_HALF_UP) does.
    Results are bit-equal to the shuffle loop (pinned by test)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    if not rows:  # empty edge list: araw.max() would raise on a zero-size
        # array; the distributed loop returns an empty frame, so match it
        schema = T.StructType(
            [
                T.StructField("role", T.StringType(), False),
                T.StructField("node", node_type),
                T.StructField("score", T.DoubleType()),
            ]
        )
        return spark.createDataFrame([], schema)

    def rint(x: float) -> int:  # Spark ROUND(double) -> long
        return int(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    def r6(x: float) -> float:  # Spark ROUND(double, 6)
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    srcs = [r[0] for r in rows]
    dsts = [r[1] for r in rows]
    s_nodes = sorted(set(srcs))
    d_nodes = sorted(set(dsts))
    s_idx = {n: i for i, n in enumerate(s_nodes)}
    d_idx = {n: i for i, n in enumerate(d_nodes)}
    se = np.fromiter((s_idx[s] for s in srcs), np.int64, len(srcs))
    de = np.fromiter((d_idx[d] for d in dsts), np.int64, len(dsts))
    SCALE = 1_000_000
    h = np.ones(len(s_nodes), np.float64)
    a = np.zeros(len(d_nodes), np.float64)
    for _ in range(max_iter):
        hf = np.fromiter((rint(x * SCALE) for x in h), np.int64, len(h))
        asum = np.zeros(len(d_nodes), np.int64)
        np.add.at(asum, de, hf[se])
        araw = asum.astype(np.float64) / SCALE
        amax = araw.max()
        a = np.fromiter((r6(x / amax) for x in araw), np.float64, len(araw))
        af = np.fromiter((rint(x * SCALE) for x in a), np.int64, len(a))
        hsum = np.zeros(len(s_nodes), np.int64)
        np.add.at(hsum, se, af[de])
        hraw = hsum.astype(np.float64) / SCALE
        hmax = hraw.max()
        h = np.fromiter((r6(x / hmax) for x in hraw), np.float64, len(hraw))
    schema = T.StructType(
        [
            T.StructField("role", T.StringType(), False),
            T.StructField("node", node_type),
            T.StructField("score", T.DoubleType()),
        ]
    )
    data = [("hub", n, float(x)) for n, x in zip(s_nodes, h)] + [
        ("authority", n, float(x)) for n, x in zip(d_nodes, a)
    ]
    return spark.createDataFrame(data, schema)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    local_threshold_edges: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """(node, rank_fp) over the directed ``edges``; rank_fp is the
    fixed-point long rank (divide by RANK_SCALE for the float value).
    On sink-free graphs ranks sum to ~RANK_SCALE * n_nodes (floor-division
    leakage aside); with sinks the dangling mass is dropped each round, so
    totals are a lower bound (see module docstring). Every node appearing
    as src or dst is a vertex, and every vertex is a seed of
    :func:`personalized_pagerank`'s recurrence. Graphs of at most
    ``local_threshold_edges`` edges run the identical integer recurrence
    driver-side (see LOCAL_EDGE_THRESHOLD; results are bit-equal by test).
    """
    return _seeded_rank(edges, None, src, dst, damping, max_iter, local_threshold_edges)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    local_threshold_edges: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Personalized PageRank: the same bit-exact integer recurrence as
    :func:`pagerank`, but rank mass teleports back to the SEED set
    instead of uniformly — the relevance-to-these-nodes ranking behind
    related-entity panels and seed-expanded audience building. Seeds
    start with full rank, everything else at 0; each round is one join +
    one groupBy, ``DIV``-exact, so the oracle unrolls identically.
    Small graphs take the driver-side twin (LOCAL_EDGE_THRESHOLD)."""
    seeds = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _seeded_rank(edges, seeds, src, dst, damping, max_iter, local_threshold_edges)


def _seeded_rank(
    edges: DataFrame,
    seeds: DataFrame | None,
    src: str,
    dst: str,
    damping: float,
    max_iter: int,
    local_threshold_edges: int,
) -> DataFrame:
    """The seeded rank recurrence behind both public functions: seeds
    (distinct ``node`` rows; None = every node) start at RANK_SCALE and
    receive the teleport term, all other nodes start at 0 and get none."""
    e = _rank_edges(edges, src, dst)
    pdf = collect_if_small(e, local_threshold_edges)
    if pdf is not None:
        seed_set = None if seeds is None else {r[0] for r in seeds.collect()}
        return _rank_recurrence_local(
            e.sparkSession, pdf.values.tolist(), e.schema[0].dataType,
            damping, max_iter, seed_set=seed_set,
        )
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.withColumn("is_seed", F.lit(1))
    else:
        nodes = nodes.join(seeds.withColumn("__s", F.lit(1)), "node", "left").select(
            "node", F.coalesce("__s", F.lit(0)).alias("is_seed")
        )
    nodes = nodes.localCheckpoint()
    # fold out-degree into the edge table once — inside the loop each
    # round then needs exactly one join (ranks) and one groupBy, not a
    # second degree join per iteration
    w_deg = F.count("*").over(Window.partitionBy("src"))
    e = e.select("src", "dst", w_deg.alias("out_deg")).localCheckpoint()

    # damping as an exact fixed-point fraction: d_num/DENOM, applied in
    # integer arithmetic (x * d_num) // DENOM — deterministic, no doubles
    DENOM = 1000
    d_num = int(round(damping * DENOM))
    tp_val = (DENOM - d_num) * RANK_SCALE // DENOM
    teleport = F.when(F.col("is_seed") == 1, F.lit(tp_val)).otherwise(0).cast("long")
    # all integral arithmetic uses SQL `div` (exact long division) — the
    # Column `/` operator routes longs through doubles, which stops being
    # exact past 2^53 and would break bit-determinism on huge graphs.
    # (in_sum * d_num) div DENOM is computed as the algebraically equal
    # (in_sum div DENOM) * d_num + ((in_sum % DENOM) * d_num) div DENOM
    # so the product never overflows long.
    damped = (
        f"(in_sum DIV {DENOM}) * {d_num}"
        f" + ((in_sum % {DENOM}) * {d_num}) DIV {DENOM}"
    )
    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed") == 1, F.lit(RANK_SCALE)).otherwise(0)
        .cast("long")
        .alias("rank_fp"),
    )
    for _ in range(max_iter):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp DIV out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # lineage is cut every round: measured at sf0.01 local, cutting
        # every third round was ~1.5x SLOWER — the stacked unplanned
        # rounds cost more in optimizer/plan work than the saved job
        # launches
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                "is_seed",
                F.coalesce("in_sum", F.lit(0).cast("long")).alias("in_sum"),
            )
            .select("node", (teleport + F.expr(damped)).alias("rank_fp"))
            .localCheckpoint()
        )
    return ranks


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iter: int = 8,
    local_threshold_edges: int = LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): alternate
    a(n) = Σ_{(h,n)} h(h) and h(n) = Σ_{(n,a)} a(a), max-normalizing and
    rounding to 6dp each half-step — max-normalization replaces the
    L2 norm so every step stays a deterministic division by a single
    broadcast scalar (no order-sensitive sqrt-of-sum), making the whole
    trajectory oracle-checkable like pagerank's. Returns
    (role, node, score): 'hub' rows for sources, 'authority' rows for
    destinations. Each half-step is one equi-join + groupBy + one-row
    max broadcast."""
    from fortune_500_financial_insights_pipeline_spark.functions.deterministic import dsum

    e = _rank_edges(edges, src, dst)
    pdf = collect_if_small(e, local_threshold_edges)
    if pdf is not None:
        return _hits_local(
            e.sparkSession, pdf.values.tolist(), e.schema[0].dataType, max_iter
        )
    e = e.localCheckpoint()
    hubs = e.select(F.col("src").alias("node")).distinct().withColumn(
        "h", F.lit(1.0)
    ).localCheckpoint(eager=False)
    auth = None
    for _ in range(max_iter):
        araw = (
            e.join(hubs.select(F.col("node").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(dsum("h").alias("__a"))
        )
        amax = araw.agg(F.max("__a").alias("__m"))
        auth = (
            araw.crossJoin(F.broadcast(amax))
            .select("node", F.round(F.col("__a") / F.col("__m"), 6).alias("a"))
            .localCheckpoint(eager=False)
        )
        hraw = (
            e.join(auth.select(F.col("node").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(dsum("a").alias("__h"))
        )
        hmax = hraw.agg(F.max("__h").alias("__m"))
        hubs = (
            hraw.crossJoin(F.broadcast(hmax))
            .select("node", F.round(F.col("__h") / F.col("__m"), 6).alias("h"))
            .localCheckpoint(eager=False)
        )
    return hubs.select(
        F.lit("hub").alias("role"), "node", F.col("h").alias("score")
    ).unionByName(
        auth.select(F.lit("authority").alias("role"), "node", F.col("a").alias("score"))
    )
