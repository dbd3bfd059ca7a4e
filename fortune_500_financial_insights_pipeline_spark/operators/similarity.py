"""Vector similarity search over an ``array<float>`` embedding column.

Two tiers (SURVEY.md §2.11):

* ``cosine_topk`` — brute-force scan: cosine against one query vector,
  TakeOrdered top-k. Linear in table size, embarrassingly parallel, no
  shuffle; the right baseline and exactly what you run at any scale when
  k ≪ n and there is one query.
* ``lsh_bucket_topk`` — scale path for *many* queries / self-join shapes:
  random-hyperplane LSH signatures bucket vectors so only same-bucket pairs
  are compared (candidate generation is a hash-partitioned groupBy, not an
  O(n²) crossJoin). Deterministic: hyperplanes derive from a seeded hash of
  (plane index, dimension), not an RNG.

All arithmetic runs JVM-side through higher-order array functions
(zip_with/aggregate) in double precision — no Python UDF in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    vec_col: str = "embedding",
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k rows by cosine similarity to ``query_vec`` (brute force).

    The query vector is inlined as a literal array (it is a parameter, not
    data); orderBy+limit compiles to TakeOrderedAndProject — each partition
    keeps a local top-k, the driver merges k·p rows, no global sort.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qnorm = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    sim = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qnorm))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    other = [c for c in emb.columns if c != vec_col]
    return (
        emb.withColumn("sim", sim)
        .orderBy(F.desc("sim"), *other[:1])
        .limit(k)
        .select(*other, "sim")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane component: a simple
    integer hash of (plane, dim) mapped to [-1, 1). Reproducible across
    runs/partitions with no RNG state."""
    h = (plane * 1_000_003 + dim * 7_919 + 12_345) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0x5BD1E995) & 0xFFFFFFFF
    h ^= h >> 15
    return h / 2**31 - 1.0


def signature_col(vec_col: str, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane (SimHash) signature: bit i = sign(v · plane_i)."""
    bits = []
    for p in range(n_planes):
        plane = [_hyperplane(p, d) for d in range(dim)]
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_neardup_pairs(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    min_cosine: float = 0.9,
) -> DataFrame:
    """Near-duplicate vector pairs via LSH bucketing: vectors sharing a full
    signature become candidates (groupBy signature — shuffle on a uniform
    hash, no crossJoin); candidates are verified with exact cosine."""
    sig = emb.select(id_col, vec_col).withColumn(
        "sig", signature_col(vec_col, dim, n_planes)
    )
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "sig"
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "sig"
    )
    pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("vec_a"), F.col("vec_b")) / (
        _norm(F.col("vec_a")) * _norm(F.col("vec_b"))
    )
    return (
        pairs.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the scale path for *search* (many queries against
# a fixed corpus). Index time: assign every vector to its nearest centroid
# cell — one narrow shuffle-free pass; the cell id becomes a partition/
# cluster key. Query time: pick the n_probe nearest centroids driver-side
# (centroids are tiny), scan only those cells, brute-force within. Recall is
# tunable via n_probe; cost drops from O(n) to O(n * n_probe / n_cells).
# ---------------------------------------------------------------------------


def sample_centroids(emb: DataFrame, k: int, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> list[list[float]]:
    """Deterministic centroid seed: the k vectors with smallest
    xxhash64(id) — a uniform pseudo-random sample, stable across runs (a
    k-means refinement would start from exactly this seed)."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [list(map(float, r[1])) for r in rows]


def ivf_index(emb: DataFrame, centroids: list[list[float]],
              vec_col: str = "embedding", vectorized: bool = False) -> DataFrame:
    """Attach the IVF cell id. Persist partitioned/bucketed by ``cell`` so a
    probe reads only its cells' files.

    ``vectorized=True`` swaps the JVM higher-order-function math for an
    Arrow-batched numpy matmul UDF (functions/udfs.make_nearest_cell_udf):
    interpreted HOF lambdas cost ~µs per element, so for large k×dim the
    BLAS path wins despite the Python hop — the one case where a pandas
    UDF beats built-ins.

    In the default path the per-centroid similarity array is bound to a
    column before the argmax — array_position(sims, array_max(sims)) would
    otherwise evaluate the whole k-dot expression tree twice, and each
    dot's norm divisor once per centroid."""
    if vectorized:
        from fortune_500_financial_insights_pipeline_spark.functions.udfs import make_nearest_cell_udf

        return emb.withColumn("cell", make_nearest_cell_udf(centroids)(vec_col))
    v = F.col(vec_col)
    norm_bound = emb.withColumn("_vnorm", _norm(v))
    sims = F.array(
        *[
            _dot(v, F.array(*[F.lit(x) for x in c]))
            / (F.col("_vnorm") * F.lit(math.sqrt(sum(x * x for x in c)) or 1.0))
            for c in centroids
        ]
    )
    staged = norm_bound.withColumn("_sims", sims)
    return staged.withColumn(
        "cell", (F.array_position("_sims", F.array_max("_sims")) - 1).cast("int")
    ).drop("_sims", "_vnorm")


def ivf_topk(
    indexed: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int,
    n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: scan only the n_probe cells whose centroids are
    nearest the query (cell choice is pure driver-side math on the tiny
    centroid list), exact cosine within."""
    qnorm = math.sqrt(sum(v * v for v in query_vec)) or 1.0

    def cos(c: list[float]) -> float:
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return sum(a * b for a, b in zip(query_vec, c)) / (cn * qnorm)

    probe = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i]))[:n_probe]
    return cosine_topk(
        indexed.filter(F.col("cell").isin(probe)).drop("cell"), query_vec, k, vec_col
    )


# ---------------------------------------------------------------------------
# Embedding quantization: float32 arrays -> int8 + per-vector scale. At the
# 100 TB design point the embedding column IS the storage bill; symmetric
# int8 cuts it 4x and similarity search degrades only marginally (the
# per-vector max-abs scale bounds quantization error at 1/127 of the
# largest component). All array math JVM-side.
# ---------------------------------------------------------------------------


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = round(v_i / s * 127)
    with s = max(|v_i|); stores (array<tinyint>, scale float).

    The scale is bound to a column in a first projection — inlining it in
    the per-element lambda would re-evaluate the array_max once per vector
    component (O(dim²) per row; measured ~7× slower at dim=64)."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    staged = emb.withColumn(
        f"{out_col}_scale",
        F.when(scale == 0.0, F.lit(1.0)).otherwise(scale).cast("double"),
    )
    s = F.col(f"{out_col}_scale")
    return staged.withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x.cast("double") / s * 127.0).cast("tinyint")),
    )


def dequantize(q_col: str, scale_col: str) -> Column:
    return F.transform(F.col(q_col), lambda x: x.cast("double") * F.col(scale_col) / 127.0)


def quantized_cosine_topk(
    emb_q: DataFrame,
    query_vec: list[float],
    k: int,
    q_col: str = "qvec",
    scale_col: str = "qvec_scale",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Top-k cosine over the quantized store. Cosine is scale-invariant, so
    the per-vector scale cancels — the int8 codes alone carry the angle;
    only integer products feed the accumulator."""
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    qlit = F.array(*[F.lit(float(x) / qn) for x in query_vec])
    codes = F.transform(F.col(q_col), lambda x: x.cast("double"))
    sim = _dot(codes, qlit) / _norm(codes)
    keep = id_cols or [c for c in emb_q.columns if c not in (q_col, scale_col)]
    return (
        emb_q.withColumn("sim", F.round(sim, 6))
        .orderBy(F.desc("sim"), *keep[:1])
        .limit(k)
        .select(*keep, "sim")
    )


def md5_sample_centroids(emb: DataFrame, k: int, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> list[list[float]]:
    """Deterministic centroid seed like ``sample_centroids`` but ordered by
    ``md5(id)`` instead of xxhash64 — md5 exists in every SQL engine, so an
    oracle can reproduce the exact same seed (xxhash64 is Spark-only)."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [list(map(float, r[1])) for r in rows]


def probe_cells_col(
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int,
    round_digits: int = 6,
    norm_col: str | None = None,
) -> Column:
    """Array of the ``n_probe`` cell ids whose centroids are cosine-nearest
    the row's vector (rounded similarity, ties to the lower cell id — the
    deterministic order an oracle can mirror with ROW_NUMBER). Pass a staged
    ``norm_col`` so the row norm is computed once, not once per centroid."""
    vn = F.col(norm_col) if norm_col else _norm(F.col(vec_col))
    # One literal array<struct<cell, c, cn>> + a single transform lambda
    # instead of k separately-inlined dot expressions (round 10, guide
    # §1.2 per-task/driver work): the analyzed tree shrinks ~k-fold, which
    # halves query CONSTRUCTION time for the 8-16-cell consumers
    # (semdedup build 2.7-4.8 s → 1.65 s same-session) — the per-entry
    # arithmetic (zip_with fold, round, negate, struct sort, slice) is
    # textually identical, so every routed cell id is unchanged.
    table = F.array(*[
        F.struct(
            F.lit(i).alias("cell"),
            F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            F.lit(math.sqrt(sum(x * x for x in c)) or 1.0).alias("cn"),
        )
        for i, c in enumerate(centroids)
    ])
    entries = F.transform(
        table,
        lambda e: F.struct(
            (-F.round(_dot(F.col(vec_col), e["c"]) / (vn * e["cn"]), round_digits)).alias(
                "negsim"
            ),
            e["cell"].alias("cell"),
        ),
    )
    ranked = F.sort_array(entries)  # struct sort: negsim asc, cell asc
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cell"])


def ivf_index_portable(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """``ivf_index`` with engine-portable routing: round-``round_digits``
    cosine, ties to the lower cell id — the same deterministic assignment
    rule ``knn_join_ivf`` uses, so a SQL oracle reproduces the cell ids
    exactly (raw-double argmax is ulp-sensitive across engines). Same plan
    shape as ivf_index: one staged norm, one projection, no shuffle."""
    staged = emb.withColumn("__vnorm", _norm(F.col(vec_col)))
    return staged.withColumn(
        "cell",
        F.element_at(
            probe_cells_col(vec_col, centroids, 1, round_digits, norm_col="__vnorm"),
            1,
        ),
    ).drop("__vnorm")


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-routed batched k-NN: the scale path ``knn_join``'s docstring
    promises. Each corpus vector is assigned to its single nearest centroid
    cell; each query explodes to its ``n_probe`` nearest cells; candidates
    meet in an ordinary equi-join on ``cell``.

    The per-query top-k window then ranks only the query's probed cells'
    candidates — cell-sized partitions (~n_probe/n_cells of the corpus per
    query), not corpus-sized ones, which is what lets the window survive a
    corpus that no longer fits a partition. Approximate by construction:
    a true neighbor assigned to an unprobed cell is missed (recall tunes
    with n_probe), but every returned similarity is exact.

    Both sides' norms are staged as columns (SCALE.md "Expression staging"),
    and cell assignment/probing use round-6 similarities with ties to the
    lower cell id, so a SQL oracle reproduces the routing exactly."""
    cn = corpus.withColumn("__cnorm", _norm(F.col(vec_col)))
    indexed = cn.withColumn(
        "cell",
        F.element_at(
            probe_cells_col(vec_col, centroids, 1, round_digits, norm_col="__cnorm"),
            1,
        ),
    )
    return knn_search_indexed(
        queries, indexed, centroids, k, n_probe=n_probe, id_col=id_col,
        vec_col=vec_col, round_digits=round_digits,
        out_cols=[c for c in corpus.columns if c != vec_col],
    )


def knn_search_indexed(
    queries: DataFrame,
    indexed: DataFrame,
    centroids: list[list[float]],
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    out_cols: "list[str] | None" = None,
) -> DataFrame:
    """k-NN search over a PREBUILT IVF index — the serving half of
    index MAINTENANCE: ``indexed`` already carries its ``cell``
    assignment (a persisted index table in production; new increments
    join it via :func:`ivf_index_portable` against the FROZEN
    centroids, no rebuild). Same probe/candidate/top-k plan as
    :func:`knn_join_ivf` (which delegates here after assigning cells):
    queries explode to their ``n_probe`` nearest cells, candidates
    meet in a cell equi-join, the per-query window ranks cell-sized
    partitions only. ``out_cols`` defaults to every indexed column
    except the vector and the cell id."""
    cn = (
        indexed
        if "__cnorm" in indexed.columns
        else indexed.withColumn("__cnorm", _norm(F.col(vec_col)))
    )
    qn = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    ).withColumn(
        "cell",
        F.explode(
            probe_cells_col("__qv", centroids, n_probe, round_digits, norm_col="__qnorm")
        ),
    )
    sim = F.round(
        _dot(F.col(vec_col), F.col("__qv")) / (F.col("__cnorm") * F.col("__qnorm")),
        round_digits,
    )
    if out_cols is None:
        out_cols = [
            c for c in indexed.columns
            if c not in (vec_col, "cell", "__cnorm")
        ]
    pairs = (
        cn.join(F.broadcast(qn), "cell")
        .where(F.col(id_col) != F.col("q_id"))
        .select("q_id", *out_cols, sim.alias("sim"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def semdedup(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): bucket embeddings into coarse-quantizer cells, then
    inside each cell drop every vector that has a cosine-similar
    (``round(sim, round_digits) >= threshold``) neighbor with a LOWER id.
    The kept rows (one representative per duplicate neighborhood, lowest id
    wins) come back with their ``cell`` attached; ``vec_col`` is dropped.

    The drop rule is pairwise, not transitive: b is dropped whenever some
    a < b is similar to it, whether or not a itself survived — the
    deterministic variant of the paper's per-cluster pruning, and exactly
    expressible as one anti-join (no iterative closure; for the transitive
    form compose with graph.connected_components as q_jaccard_clusters
    does).

    100 TB shape: the pair enumeration is an equi-join on ``cell`` (never a
    crossJoin), so the cost is sum(cell_size^2) — k must scale with corpus
    size to keep cells bounded (the paper uses k=50000 for LAION-scale);
    feed ``kmeans_centroids`` for trained cells, ``md5_sample_centroids``
    when the oracle must replay the routing. Norms are staged once per row
    and reused across every pair the row participates in, so the per-pair
    work is one zip_with dot over the staged (vec, norm) columns — the
    pair count, not per-pair math, is what k controls."""
    staged = emb.withColumn("__vnorm", _norm(F.col(vec_col)))
    # the assignment subtree (k dots per row) feeds three consumers — both
    # pair sides and the final anti-join; a lazy localCheckpoint runs it
    # once instead of three times (computed on first use, then reused)
    indexed = staged.withColumn(
        "cell",
        F.element_at(
            probe_cells_col(vec_col, centroids, 1, round_digits, norm_col="__vnorm"),
            1,
        ),
    ).localCheckpoint(eager=False)
    left = indexed.select(
        F.col(id_col).alias("__id_a"),
        F.col(vec_col).alias("__vec_a"),
        F.col("__vnorm").alias("__norm_a"),
        "cell",
    )
    right = indexed.select(
        F.col(id_col).alias("__id_b"),
        F.col(vec_col).alias("__vec_b"),
        F.col("__vnorm").alias("__norm_b"),
        "cell",
    )
    sim = F.round(
        _dot(F.col("__vec_a"), F.col("__vec_b"))
        / (F.col("__norm_a") * F.col("__norm_b")),
        round_digits,
    )
    dropped = (
        left.join(right, "cell")
        .where(F.col("__id_a") < F.col("__id_b"))
        .where(sim >= threshold)
        .select(F.col("__id_b").alias(id_col))
        .distinct()
    )
    return indexed.drop("__vnorm", vec_col).join(dropped, id_col, "left_anti")


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Batched k-NN: top-k cosine neighbors in ``corpus`` for EVERY row of
    ``queries`` (self-matches on ``id_col`` excluded).

    Plan: the query batch broadcasts (it is the small side by contract),
    the corpus streams partition-parallel, and both side's norms are
    STAGED as columns before the pair join — an inlined norm would be
    re-evaluated once per (query, corpus) pair instead of once per row
    (SCALE.md "Expression staging").

    Per-query top-k runs as row_number over a per-query window: fine while
    ``corpus_rows`` fits a partition. At extreme scale, route through
    ivf_index first so each query ranks only its cell's candidates — the
    window then sees cell-sized, not corpus-sized, partitions.
    """
    from pyspark.sql.window import Window

    qn = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    cn = corpus.withColumn("__cnorm", _norm(F.col(vec_col)))
    sim = F.round(
        _dot(F.col(vec_col), F.col("__qv")) / (F.col("__cnorm") * F.col("__qnorm")),
        round_digits,
    )
    other = [c for c in corpus.columns if c != vec_col]
    pairs = (
        cn.crossJoin(F.broadcast(qn))
        .where(F.col(id_col) != F.col("q_id"))
        .select("q_id", *other, sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def late_interaction_topk(
    emb: DataFrame,
    query_vecs: list[list[float]],
    *,
    k: int = 5,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """ColBERT-style late interaction (Khattab & Zaharia, SIGIR 2020) over
    multi-vector documents: each ``group_col`` value is a document made of
    many vectors; score(doc) = Σ over query vectors of max_{v∈doc}
    cosine(q, v); top-``k`` docs.

    Plan shape for 100 TB: the query side is a tiny broadcast relation
    (one row per query vector) attached map-side — the corpus-sized
    cosine grid never shuffles raw vectors; the MaxSim reduction is a
    partially-aggregated groupBy on (doc, query-vector) whose key count is
    |docs|·|query vecs|, then the per-doc sum collapses |query vecs| rows
    per doc; TakeOrdered picks k. Cosines round to ``round_digits`` and
    the final sum runs in fixed point, so the score is engine-exact."""
    spark = emb.sparkSession
    qrel = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(query_vecs)],
        "qid int, qv array<double>",
    )
    sim = F.round(
        _dot(F.col(vec_col), F.col("qv"))
        / (_norm(F.col(vec_col)) * _norm(F.col("qv"))),
        round_digits,
    )
    per_pair = (
        emb.join(F.broadcast(qrel))
        .select(F.col(group_col), F.col("qid"), sim.alias("sim"))
        .groupBy(group_col, "qid")
        .agg(F.max("sim").alias("maxsim"))
    )
    scored = per_pair.groupBy(group_col).agg(
        (
            F.sum(F.round(F.col("maxsim") * 1000000).cast("long")).cast("double")
            / 1000000
        ).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc(group_col)).limit(k)


def signature_col_portable(
    vec_col: str, dim: int, n_planes: int = 16, scale: int = 1_000_000
) -> Column:
    """Random-hyperplane signature with an EXACT-INTEGER interior: vector
    and plane components in fixed point, dot products as long sums — the
    sign (each LSH bit) is then order-invariant and engine-portable, so
    the whole bucketing is oracle-checkable (the float form's near-zero
    signs can flip in the last ulp across engines)."""
    from fortune_500_financial_insights_pipeline_spark.functions.planes import (
        hyperplane_fixed,
    )

    # ONE SQL string parsed JVM-side instead of n_planes×dim Column-API
    # literal calls: the Column form cost ~4.4 s of pure driver-side py4j
    # round trips PER PLAN BUILD (measured sf0.01, round 6) before a single
    # task ran — identical semantics, same optimized plan, ~0.1 s to parse.
    # vec_col is quoted as ONE backtick identifier, so it must be a plain
    # top-level column name — a dotted nested-field path ('a.b') would
    # resolve as the literal column named "a.b", not the struct field the
    # Column API would reach. Reject both rather than resolve differently.
    if "`" in vec_col or "." in vec_col:
        raise ValueError(
            "signature_col_portable requires a plain top-level column "
            f"name; got {vec_col!r} — alias the nested field to a top-"
            "level column first (e.g. .withColumn('v', F.col('a.b')))"
        )
    vfix_sql = (
        f"transform(`{vec_col}`, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    terms = []
    for p in range(n_planes):
        plane = [hyperplane_fixed(p, d, scale) for d in range(dim)]
        arr = "array(" + ",".join(f"{int(c)}L" for c in plane) + ")"
        dot = (
            f"aggregate(zip_with({vfix_sql}, {arr}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {2 ** p}L ELSE 0L END)")
    return F.expr("CAST((" + " + ".join(terms) + ") AS BIGINT)")


def lsh_neardup_pairs_portable(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    min_cosine: float = 0.9,
    scale: int = 1_000_000,
) -> DataFrame:
    """``lsh_neardup_pairs`` with every engine-sensitive step made exact:
    integer-dot signatures (bucketing), and the verification cosine built
    from exact integer components — dot and squared norms are long sums,
    combined in one deterministic double expression, rounded to 6dp. The
    pair SET is then hash-checkable, not just the pair count. Same plan
    shape: signature groupBy bucket join (no crossJoin), verify only
    within buckets."""
    vfix = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    sig = emb.select(
        F.col(id_col),
        vfix.alias("vf"),
        signature_col_portable(vec_col, dim, n_planes, scale).alias("sig"),
    # both self-join legs would recompute the n_planes×dim signature
    # expression (the dominant per-row cost) from the scan; one lazy
    # checkpoint computes it once and feeds both legs from blocks —
    # measured 5.0 → 3.9 s at sf0.1, and the saving grows with data
    ).localCheckpoint(eager=False)
    a = sig.select(F.col(id_col).alias("id_a"), F.col("vf").alias("vf_a"), "sig")
    b = sig.select(F.col(id_col).alias("id_b"), F.col("vf").alias("vf_b"), "sig")
    pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
    ldot = F.aggregate(
        F.zip_with(F.col("vf_a"), F.col("vf_b"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = F.round(
        ldot.cast("double")
        / (F.sqrt(n2("vf_a").cast("double")) * F.sqrt(n2("vf_b").cast("double"))),
        6,
    )
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def mutual_knn_pairs(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal k-NN pairs: (a, b) with a < b where EACH vector is in
    the other's cosine top-k. Mutual neighborship is the standard
    high-precision edge filter for near-dup graphs and agglomerative
    semantic clustering (one-directional kNN edges in dense regions match
    hub vectors that are nobody's reciprocal neighbor).

    Plan: self k-NN via knn_join (broadcast queries over partition-
    parallel corpus, per-query window rank), then the reciprocity check
    is a SELF SEMI-JOIN of the directed edge list against its own swap —
    edges only, never re-scoring. The directed edge list is |V|*k rows,
    so the reciprocal join is tiny next to the scoring pass.
    """
    edges = knn_join(emb, emb, k, id_col=id_col, vec_col=vec_col,
                     round_digits=round_digits).select(
        F.col("q_id").alias("src"), F.col(id_col).alias("dst"), "sim"
    # round 9 (guide §5): edges feeds BOTH the probe side and the swapped
    # broadcast build below — without a lineage cut the full |V|² scoring
    # pass executes twice per action. |V|·k id rows, bounded.
    ).localCheckpoint(eager=False)
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # |V|·k id pairs are strictly smaller than the |V| full vectors
    # knn_join already broadcasts (its query side IS emb here), so the
    # reciprocity semi-join can always broadcast the swapped edge list —
    # a shuffle+sort pair (SMJ over a statless subtree) served no one
    return (
        edges.join(F.broadcast(rev), ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "sim")
    )


def hard_negatives(
    emb: DataFrame,
    n_queries: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the ``k`` most-similar corpus vectors with a DIFFERENT
    label — the near-misses a trainer wants in the batch because random
    negatives are too easy to teach a margin.

    Same plan skeleton as ``knn_join`` (broadcast query batch, staged
    norms, per-query WindowGroupLimit top-k); the label-inequality
    predicate rides the pair filter, so wrong-label candidates never
    reach the window. Round-6 similarities keep the ranking (ties on id)
    oracle-exact."""
    from pyspark.sql.window import Window

    qn = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    cn = emb.withColumn("__cnorm", _norm(F.col(vec_col)))
    sim = F.round(
        _dot(F.col(vec_col), F.col("__qv")) / (F.col("__cnorm") * F.col("__qnorm")),
        round_digits,
    )
    pairs = (
        cn.crossJoin(F.broadcast(qn))
        .where(
            (F.col(id_col) != F.col("q_id"))
            & (F.col(label_col) != F.col("__qlabel"))
        )
        .select("q_id", F.col(id_col), F.col(label_col), sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
