"""Iterative graph computation on DataFrames: connected components, and the
dedup-clustering use it exists for.

Near-dup detection (minhash.py, similarity.py) yields PAIRS; correct
deduplication needs CLUSTERS — if A~B and B~C, one survivor for {A,B,C}
even though A~C was never a candidate pair. That closure is a connected-
components computation.

Implementation is iterative min-label propagation as a DataFrame loop:
every vertex adopts the smallest label among itself and its neighbors
until a fixpoint. Spark-idiomatic iteration: each round is one shuffle
(edge join + min-agg), lineage is cut with localCheckpoint so the plan
doesn't grow unboundedly, and convergence is O(diameter) rounds — near-dup
clusters are tiny and shallow, so 3-5 rounds in practice. (At extreme
graph scale you'd switch to the large-star/small-star algorithm
[Kiveris et al., "Connected Components in MapReduce and Beyond"], which
trades more work per round for O(log n) rounds; the loop scaffold here is
the same.)"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from fortune_500_financial_insights_pipeline_spark.operators.compact import collect_if_small


def union_find_min_labels(pairs) -> dict:
    """Pure union-find with union-by-min over an iterable of (u, v)
    pairs: {vertex: min reachable vertex id}. Because every union keeps
    the SMALLER root as the tree root, the root of each tree is exactly
    the minimum vertex id of its component — the same label min-label
    propagation converges to. Separated from the DataFrame wrapper so the
    invariant is property-testable without a session."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        parent.setdefault(ru, ru)
        parent.setdefault(rv, rv)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _cc_local_union_find(e: DataFrame, pdf) -> DataFrame:
    """Bounded driver-side finish over the edge list ``pdf`` that the
    gate (compact.collect_if_small) already fetched from ``e`` (see
    union_find_min_labels for the labeling invariant). Memory is bounded
    by the caller's edge-count threshold."""
    labels = union_find_min_labels(pdf.values.tolist())
    # id type must match what the distributed path would produce: its
    # first step unions e with the column-swapped frame, which widens
    # mixed src/dst types (int ∪ long → long). Take the type from the
    # same (lazy, zero-job) union instead of blindly trusting column 0.
    swapped = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    id_type = e.unionByName(swapped).schema[0].dataType
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("comp", id_type)]
    )
    return e.sparkSession.createDataFrame(sorted(labels.items()), schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    local_finish_edges: int = 200_000,
) -> DataFrame:
    """(vertex id, component) with component = min vertex id reachable.

    ``edges`` is undirected pair data (each pair listed once is enough).
    Vertices only appear if they touch an edge — callers union isolated
    ids back in if needed (dedup does: see cluster_dedup).

    Two-phase execution, the standard shape for CC at scale (Kiveris et
    al. run distributed rounds only until the frame is small, then finish
    locally): one bounded job (compact.collect_if_small) fetches the
    deduplicated edge list when it has at most ``local_finish_edges``
    edges (a few MB of driver memory — candidate graphs from bucketed
    near-dup pair generation are tiny relative to the corpus), and the
    labels then come from a driver-side union-find with
    union-by-min, which produces the IDENTICAL min-id labels without
    paying O(diameter) shuffle rounds. Above the threshold — or with
    ``local_finish_edges=0`` — the distributed min-label propagation
    runs unchanged. Both paths are pinned equal by test.

    Convergence of the distributed loop is CHECKED, not assumed: if the
    propagation still changes labels after ``max_iter`` rounds the result
    would be silently wrong (partially merged components), so this raises
    instead — long-chain graphs at scale should raise ``max_iter``
    (rounds needed = graph diameter) or use
    :func:`connected_components_star` (O(log n) rounds,
    diameter-independent)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        # a NULL endpoint is not a vertex: dropped identically on BOTH
        # paths, so the local union-find never sees pandas' NaN-coerced
        # float ids and the distributed loop never carries a null label
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )
    pdf = collect_if_small(e, local_finish_edges)
    if pdf is not None:
        return _cc_local_union_find(e, pdf)
    e = e.localCheckpoint()
    both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    both = both.distinct().localCheckpoint()
    labels = (
        both.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    n_changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.v == labels.id)
            .groupBy("u")
            .agg(F.min("comp").alias("n_comp"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("n_comp", F.col("comp"))).alias("comp"),
                (F.col("n_comp") < F.col("comp")).alias("_changed"),
            )
            .localCheckpoint()  # one materialization; the change-count scan below reuses its blocks
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    if n_changed > 0:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({n_changed} labels still changing); raise max_iter to "
            "at least the graph diameter — returning here would yield "
            "partially-merged (wrong) component labels"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(vertex id, component) with component = min reachable vertex id —
    same contract as :func:`connected_components`, computed with
    alternating large-star/small-star contractions (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    Why a second algorithm: min-label propagation needs O(graph diameter)
    rounds — a 10-million-link chain needs 10 million shuffles. Each
    large-star/small-star round CONTRACTS the graph toward a star per
    component, converging in O(log n) rounds on ANY topology, so this is
    the form to run at the 100 TB design point where diameters are
    unknown. Per round: two groupBy-min aggregates + rewrites, all
    vertex-keyed equi-shuffles, lineage cut per round.

    large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u});
    small-star(u, over edges oriented high→low): connect every neighbor
    (all ≤ u) and u itself to the minimum. Both preserve connectivity
    and only ever link a node to a smaller node, so the fixpoint is the
    star rooted at each component's minimum. Convergence is detected the
    round the fixpoint FORMS (round 7 — signature-equality detection
    needed one extra confirm round): the edge set is the fixpoint star
    forest iff every parent link is unique (n_edges = countDistinct(u):
    out-degree 1) and no node sits on both sides (countDistinct(u) +
    countDistinct(v) = countDistinct over the union: two-level). Both
    halves only emit child→smaller links, so such a forest is
    necessarily min-rooted, and both half-steps map it to itself. One
    stack+aggregate job per round on the frame the round materializes
    anyway, and CHECKED: raises if ``max_iter`` rounds pass without
    stabilizing, like the propagation form."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star: for each u, attach strictly-larger neighbors to
        # the min of the closed neighborhood
        both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # lazy checkpoints: the round's ONE action (the stability probe
        # below) materializes both half-steps and pins their blocks, so a
        # round costs one job instead of three — the half-step plans still
        # never stack across rounds
        e = (
            both.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- small-star: orient high→low, attach the whole closed
        # low-neighborhood (including u) to its minimum
        lo = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = lo.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            lo.join(mins, "u")
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("u"),
                F.col("m").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # ---- fixpoint probe: e is the min-rooted star forest iff
        # out-degree(u) = 1 for every u (n_edges = d_u over the distinct
        # edge set) and the u/v sides are disjoint (d_u + d_v = d_all).
        # Detecting the STATE stops the loop the round the forest forms;
        # the old signature-equality check needed one more full round to
        # observe "nothing changed".
        probe = (
            e.selectExpr("stack(2, 'u', u, 'v', v) as (side, x)")
            .agg(
                F.count(F.when(F.col("side") == "u", 1)).alias("n_edges"),
                F.count_distinct(
                    F.when(F.col("side") == "u", F.col("x"))
                ).alias("d_u"),
                F.count_distinct(
                    F.when(F.col("side") == "v", F.col("x"))
                ).alias("d_v"),
                F.count_distinct("x").alias("d_all"),
            )
            .head()
        )
        if (
            probe["n_edges"] == probe["d_u"]
            and probe["d_u"] + probe["d_v"] == probe["d_all"]
        ):
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not stabilize in max_iter="
            f"{max_iter} rounds — raise max_iter (rounds needed is "
            "O(log n), so this indicates a pathological input)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are (member -> component min) stars; roots appear
    # only on the v side, so union them back as their own component.
    # Vertices whose ONLY edge is a self-loop were filtered out of `e`
    # up front — union them back as singletons so vertex coverage matches
    # connected_components (which labels them with their own id), keeping
    # the two implementations interchangeable on any input.
    members = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    self_loops = (
        edges.where(F.col(src) == F.col(dst))
        .select(F.col(src).alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    return members.unionByName(roots).unionByName(self_loops).groupBy("id").agg(
        F.min("comp").alias("comp")
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one row (the min-id canonical) per duplicate CLUSTER implied by
    ``pairs`` — transitive closure included. Rows untouched by any pair
    survive unchanged."""
    comps = connected_components(pairs, src=src, dst=dst)
    tagged = df.join(comps, df[id_col] == comps.id, "left").drop("id")
    keep_ids = (
        tagged.withColumn("comp", F.coalesce("comp", F.col(id_col)))
        .groupBy("comp")
        .agg(F.min(id_col).alias("_keep"))
        .select("_keep")
    )
    return df.join(keep_ids, df[id_col] == keep_ids._keep, "left_semi")


def triangle_counts(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-vertex triangle participation over the undirected ``edges``.

    Canonicalizes to u < v, then enumerates each triangle exactly once as
    the ordered triple (a < b < c) via a two-step self-join:
    (a,b) ⋈ (b,c) ⋈ (a,c). Both joins are equi-joins Catalyst shuffles on
    the join key; on a skew-heavy graph at scale the standard refinement is
    degree-based orientation (point each edge from its lower-degree endpoint
    so wedges are only built at low-degree corners — Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer"), which drops in
    here by replacing the u < v canonicalization with a (degree, id) order.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return nodes.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """k-core extraction with a FIXED round budget: repeatedly peel nodes
    of degree < ``k`` (each peel drops every edge touching a removed
    node), ``rounds`` times.  The k-core is the densest-region filter a
    similarity graph gets before community/cluster work — low-degree
    fringe (weakly-connected near-dups, isolated points) falls away.

    A fixed round count instead of loop-to-convergence keeps the plan
    finite and lets a SQL oracle unroll the same rounds verbatim
    (pagerank.py precedent); callers assert convergence on their graph
    (a round that removes nothing is a fixpoint — the fixture converges
    well inside the budget, by test).

    Scale shape: per round, ONE degree groupBy + two semi-joins keyed on
    the node id; ``localCheckpoint`` cuts lineage each round so Catalyst
    analysis stays linear in ``rounds``.  Input edges are undirected
    (id_a < id_b); they are symmetrized internally.

    Returns surviving (node, degree) — degree within the core.
    """
    directed = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    e = directed.localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.where(F.col("__deg") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source BFS over an undirected graph: (id, hop) with hop the
    minimum edge distance from any seed, truncated at ``rounds`` — the
    frontier-expansion primitive behind reachability checks, influence
    radii, and "within-N-links" joins.

    Each round is ONE equi-join (frontier against the symmetrized edge
    list, shuffled on the vertex key) plus a min-merge — never a
    materialized transitive closure.  localCheckpoint between rounds
    cuts lineage so driver-side analysis stays linear in ``rounds``
    (see SCALE.md on expression-tree blowup).  Unreached vertices are
    absent from the output (callers outer-join them back if needed);
    the unrolled fixed-round recurrence is deterministic, so an oracle
    can replay it stage by stage.
    """
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    both = both.distinct().localCheckpoint(eager=False)
    labels = seeds.select(F.col(seed_col).alias("id")).distinct().withColumn(
        "hop", F.lit(0).cast("long")
    )
    for _ in range(rounds):
        expanded = (
            both.join(labels, both.v == labels.id)
            .groupBy("u")
            .agg((F.min("hop") + 1).alias("hop"))
            .select(F.col("u").alias("id"), "hop")
        )
        labels = (
            labels.unionByName(expanded)
            .groupBy("id")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=False)
        )
    return labels


def hash_guided_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 4,
    src: str = "id_a",
    dst: str = "id_b",
    seed_col: str = "id",
) -> DataFrame:
    """DeepWalk-style walk corpus with DETERMINISTIC next-hop choice:
    from each seed, ``steps`` hops where the next node is the neighbor
    minimizing md5(walk_id | step | neighbor) — a keyed-hash stand-in
    for the uniform random choice (same marginal behavior on
    high-entropy ids, but replayable, partition-invariant, and
    oracle-checkable, the property every sampler in this repo holds).
    Graph-to-sequence generation is how node-embedding training data
    gets made; determinism is what lets two runs of a 100 TB pipeline
    agree.

    Per step: one vertex-keyed equi-join frontier×edges, then a
    row_number()=1 argmin per walk over the candidate hash — never
    materializing more than (walks × degree) candidate rows, cut back to
    one row per walk before the next hop. localCheckpoint per step keeps
    driver analysis linear in ``steps``.

    Returns (walk_id, step, node) with step 0 = the seed itself.
    """
    both = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    both = both.distinct().localCheckpoint(eager=False)
    cur = seeds.select(
        F.col(seed_col).alias("walk_id"), F.col(seed_col).alias("node")
    ).distinct()
    out = cur.select("walk_id", F.lit(0).alias("step"), "node")
    for t in range(1, steps + 1):
        # The frontier is one row per WALK forever (the rn=1 cut below),
        # while `both` is the whole edge list — but both sides are
        # statless checkpoint scans, so the planner shuffled the EDGES by
        # vertex once per hop. Broadcasting the frontier makes each hop a
        # map-only probe over the stationary edge partitions (flip to a
        # shuffle join only at walk counts where walks x 16 B outgrows a
        # broadcast, i.e. hundreds of millions of simultaneous walks).
        cand = F.broadcast(cur).join(both, cur.node == both.u).select(
            "walk_id",
            F.col("v").alias("nbr"),
            F.md5(
                F.concat_ws("|", F.col("walk_id"), F.lit(str(t)), F.col("v"))
            ).alias("__h"),
        )
        w = W.partitionBy("walk_id").orderBy("__h", "nbr")
        cur = (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("walk_id", F.col("nbr").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(cur.select("walk_id", F.lit(t).alias("step"), "node"))
    return out


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of an undirected edge list
    (Newman 2002): Pearson correlation of endpoint degrees over the
    DIRECTED edge set (each undirected edge contributes both
    orientations, the standard symmetrization). Positive = hubs link to
    hubs (social shape), negative = hubs link to leaves (star/broadcast
    shape) — the one-number topology readout that decides whether
    neighborhood sampling will blow up.

    One degree aggregate (node-count-sized), two node-keyed equi-joins to
    stamp endpoint degrees, exact integer moment sums (degrees are
    integers — no fixed-point rounding needed), one shared-text Pearson
    expression."""
    und = edges.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).dropDuplicates(["a", "b"])
    directed = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = directed.groupBy("a").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("a").alias("node"), "d"
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("dy"))
    m = (
        directed.join(da, "a")
        .join(db, "b")
        .agg(
            F.count(F.lit(1)).alias("n_directed_edges"),
            F.sum("dx").alias("__sx"),
            F.sum("dy").alias("__sy"),
            F.sum(F.col("dx") * F.col("dy")).alias("__sxy"),
            F.sum(F.col("dx") * F.col("dx")).alias("__sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("__syy"),
        )
    )
    n = F.col("n_directed_edges").cast("double")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    r = F.when((denx > 0) & (deny > 0), num / F.sqrt(denx * deny))
    return m.select(
        "n_directed_edges", F.round(r, 6).alias("assortativity")
    )


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Modularity Q of a labeled partition over an undirected edge list
    (Newman–Girvan): Q = Σ_c (m_c/m − (D_c/2m)²) — how much denser
    intra-community edges are than a degree-preserving random rewiring.
    The acceptance number for ANY community assignment (label propagation,
    connected components, an external clustering) before it drives
    downstream grouping.

    ``communities``: (node, community). All moments are exact integers —
    m (edge count), m_c (intra-community edges), D_c (community degree
    sums) — folded in two node/edge-keyed aggregates; Q itself is one
    shared-text double expression over exact longs."""
    und = edges.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).dropDuplicates(["a", "b"])
    ca = communities.select(F.col("node").alias("a"), F.col("community").alias("__ca"))
    cb = communities.select(F.col("node").alias("b"), F.col("community").alias("__cb"))
    stamped = und.join(ca, "a").join(cb, "b")
    m = stamped.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        stamped.where(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("m_c"))
    )
    directed = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    dsum = (
        directed.join(ca, "a")
        .groupBy(F.col("__ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    per = (
        dsum.join(intra, "community", "left")
        .select(
            "community",
            F.coalesce("m_c", F.lit(0)).cast("long").alias("m_c"),
            F.col("d_c").cast("long").alias("d_c"),
        )
        .crossJoin(F.broadcast(m))
    )
    mm = F.col("m").cast("double")
    q_c = F.col("m_c") / mm - (F.col("d_c") / (2.0 * mm)) * (
        F.col("d_c") / (2.0 * mm)
    )
    return per.select(
        "community", "m_c", "d_c", F.round(q_c, 6).alias("q_contrib")
    ).orderBy("community")


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for community
    detection, made DETERMINISTIC: labels start as node ids; each round
    every node adopts the most frequent label among its neighbors with
    ties broken toward the SMALLEST label, for a FIXED number of rounds —
    the two classic nondeterminism sources (random tie-break, sweep
    order) are removed, so the result is a pure function of the edge set
    and the oracle can replay each round as an unrolled CTE. The edge set
    is symmetrized and de-duplicated (simple undirected graph) so both
    engines count each neighbor once.

    Plan per round: one edge⋈labels hash join (labels is node-sized) +
    two hash aggregations — the (node, label) count partial-aggregates
    map-side, and the per-node argmax is a max over a (count, -label)
    struct, not a window, so no per-node sort ever materializes.
    Isolated nodes (none in a symmetrized edge list) and nodes whose
    neighborhood is empty keep their label via the left join."""
    sym = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .unionByName(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    labels = sym.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(rounds):
        nb = sym.join(labels, sym["s"] == labels["node"]).select(
            F.col("d").alias("node"), "label"
        )
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("__c"))
        best = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c").alias("c"), (-F.col("label")).alias("nl")
                    )
                ).alias("__m")
            )
            .select("node", (-F.col("__m.nl")).alias("__new"))
        )
        labels = labels.join(best, "node", "left").select(
            "node", F.coalesce("__new", "label").alias("label")
        )
    return labels


def cluster_dedup_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep the HIGHEST-SCORING row per duplicate cluster (ties to the
    smaller id) — the quality-weighted survivor rule a curation pipeline
    wants over :func:`cluster_dedup`'s min-id canonical: when three
    near-identical copies differ in quality (truncation, mojibake, ad
    chrome), dedup should keep the best one, not the first-crawled one.
    Same transitive-closure semantics; rows untouched by any pair
    survive unchanged. The argmax is a (score, -id) struct max — a hash
    aggregate, no window, no per-cluster sort."""
    comps = connected_components(pairs, src=src, dst=dst)
    tagged = (
        df.select(id_col, score_col)
        .join(comps, df[id_col] == comps.id, "left")
        .drop("id")
        .withColumn("comp", F.coalesce("comp", F.col(id_col)))
    )
    keep_ids = (
        tagged.groupBy("comp")
        .agg(
            F.max(
                F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("ni"))
            ).alias("__m")
        )
        .select((-F.col("__m.ni")).alias("_keep"))
    )
    return df.join(keep_ids, df[id_col] == keep_ids._keep, "left_semi")
