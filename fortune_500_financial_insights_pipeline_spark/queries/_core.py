"""Shared query-registry core: the QUERIES dict, the @q decorator, and
cross-domain helpers (trained-artifact memo, shared scoring frames).
Split out of the former single-file queries.py in round 3; the public
import path `fortune_500_financial_insights_pipeline_spark.queries` is unchanged
(see __init__.py)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from fortune_500_financial_insights_pipeline_spark.catalog import load_table
from fortune_500_financial_insights_pipeline_spark.functions.deterministic import davg, dsum, dsum_w
from fortune_500_financial_insights_pipeline_spark.operators.compact import collect_if_small


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

def q(name: str):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco

# Deterministic trained-artifact memo. kmeans/PQ training is
# bit-deterministic given (table, params) — the same fixture tables
# re-yield the identical centroids/codebooks on every call — so the five
# ANN-family keys retraining the same quantizer inside one process only
# re-pay identical Spark jobs. Values are plain Python lists/dicts (no
# Spark handles, so they survive session restarts); keyed by
# (artifact, sf_dir, params). A driver that imports a fresh process per
# query sees a cold memo and simply retrains — results are identical
# either way. Production analogue: an ANN index is trained once at build
# time and shared by every query, not retrained per request.
_TRAINED_MEMO: dict[tuple, object] = {}

def _memo_trained(key: tuple, build: Callable[[], object]):
    if key not in _TRAINED_MEMO:
        _TRAINED_MEMO[key] = build()
    return _TRAINED_MEMO[key]


# Pair-list memo ceiling: above this many rows the memo is SKIPPED and the
# distributed frame returned — a degenerate corpus (boilerplate floods)
# can make near-dup pair counts quadratic, and a memo must never turn
# that into unbounded driver memory. The gate is compact.collect_if_small
# (one bounded Arrow fetch) and the memo keeps the numpy-backed pandas
# frame, so the footprint at the cap really is primitive-column sized
# (2M rows × four int64 ≈ 64 MB) — not the ~50×-larger Row-object form.
_PAIR_MEMO_CAP = 2_000_000


def doc_jaccard_pairs(
    spark: SparkSession, sf_dir: str, ngram: int, floor: float
) -> DataFrame:
    """Memoized exact ngram-Jaccard pair list over `documents` at >=
    ``floor``, as integer (n_i, n_u) intersection/union counts — the
    ANN-artifact memo pattern (r3) extended to the dedup-truth family.

    Prefix filtering is LOSSLESS, so the floor build filtered to any
    stricter t is bit-identical to rebuilding at t; callers apply
    ``n_i/n_u >= t`` (the same long→double division the inline form used)
    and/or ``ROUND(n_i/n_u, 6)`` for the similarity column. The five
    threshold-sweep keys (lsh recall/precision/s-curve, dedup threshold
    curve, jaccard clusters/triangles) each paid this identical
    deterministic pass per process; now the first caller pays it once.
    Pair lists are near-dup-sized (thousands of rows), not corpus-sized —
    bounded driver memory like every memoized artifact here."""
    from fortune_500_financial_insights_pipeline_spark.operators.setjoin import (
        jaccard_pairs_exact,
    )
    from fortune_500_financial_insights_pipeline_spark.operators.text import word_ngrams

    key = ("doc_jacc_pairs", sf_dir, ngram, floor)
    if key not in _TRAINED_MEMO:
        d = load_table(spark, sf_dir, "documents")
        pairs = jaccard_pairs_exact(
            # gram construction is consumed by two jobs inside the
            # operator (the injectivity guard's freq aggregate and the
            # ordered-array build) — cut it so the corpus tokenizes once
            # per build, not once per consumer job (round 10, guide §5;
            # same-session A/B min 9.1 -> 6.0 s under load)
            d.select("doc_id", word_ngrams(F.col("text"), ngram).alias("grams"))
            .localCheckpoint(eager=False),
            threshold=floor,
            return_counts=True,
            # near-dup-bounded corpus by memo contract (_PAIR_MEMO_CAP):
            # id-pair broadcast keeps the gram arrays off every exchange
            broadcast_cands=True,
        )
        pdf = collect_if_small(pairs, _PAIR_MEMO_CAP)
        if pdf is None:  # degenerate corpus: stay distributed, skip the memo
            return pairs.localCheckpoint(eager=False)
        _TRAINED_MEMO[key] = pdf
    return spark.createDataFrame(
        _TRAINED_MEMO[key], "id_a long, id_b long, n_i long, n_u long"
    )


def walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized deterministic 4-hop hash-guided walk corpus over the
    supplier↔customer trade graph (operators/graph.hash_guided_walks,
    seeds = suppliers 1-5): 25 rows built by 4 iterative frontier joins —
    the construction, not the data, is the cost, and q_random_walk +
    q_skipgram_pairs both need the identical corpus. Keyed-md5 next-hop
    choice is partition-invariant, so the collected rows are the exact
    distributed result."""
    from fortune_500_financial_insights_pipeline_spark.operators.graph import (
        hash_guided_walks,
    )

    def build():
        li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        edges = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .select(
                F.col("l_suppkey").cast("long").alias("id_a"),
                (F.lit(1000000) + F.col("o_custkey")).cast("long").alias("id_b"),
            )
            .distinct()
        )
        seeds = (
            load_table(spark, sf_dir, "supplier")
            .where(F.col("s_suppkey") <= 5)
            .select(F.col("s_suppkey").cast("long").alias("id"))
        )
        out = hash_guided_walks(edges, seeds, steps=4)
        return [(r["walk_id"], r["step"], r["node"]) for r in out.collect()]

    rows = _memo_trained(("walk_corpus_4", sf_dir), build)
    return spark.createDataFrame(rows, "walk_id long, step int, node long")


def bpe_merges_3(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Memoized corpus-trained 3-merge BPE table over `documents`
    (operators/bpe.bpe_train, sequential batch_size=1 — the
    oracle-replayed form): (step, lhs, rhs, pair_count) rows. Three keys
    (q_bpe_train, q_bpe_segment, q_tokenizer_fertility) train the
    identical deterministic model per process; the table is merge-count
    sized."""
    from fortune_500_financial_insights_pipeline_spark.operators.bpe import bpe_train

    def build():
        d = load_table(spark, sf_dir, "documents")
        return [
            (r["step"], r["lhs"], r["rhs"], r["pair_count"])
            for r in bpe_train(d, n_merges=3).collect()
        ]

    return _memo_trained(("bpe_merges_3", sf_dir), build)


def doc_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized 16-hash/4-band portable-MinHash candidate list over
    `documents` with exact verified jac (min_jaccard=0.0 — i.e. EVERY
    band collision), shared by the LSH quality gauges
    (precision/recall/s-curve). Same determinism argument as
    doc_jaccard_pairs."""
    from fortune_500_financial_insights_pipeline_spark.operators.minhash import (
        minhash_neardup_pairs_portable,
    )

    key = ("doc_lsh_cand_16_4", sf_dir)
    if key not in _TRAINED_MEMO:
        d = load_table(spark, sf_dir, "documents")
        pairs = minhash_neardup_pairs_portable(
            d, id_col="doc_id", text_col="text",
            n_hashes=16, bands=4, min_jaccard=0.0,
        )
        pdf = collect_if_small(pairs, _PAIR_MEMO_CAP)
        if pdf is None:  # degenerate corpus: stay distributed, skip the memo
            return pairs.localCheckpoint(eager=False)
        _TRAINED_MEMO[key] = pdf
    return spark.createDataFrame(
        _TRAINED_MEMO[key], "id_a long, id_b long, jac double"
    )

def _qvec_probe(emb: DataFrame, centroids, n_probe: int = 2):
    """(query vector, probed cells) for vec_id=0 in ONE head() job —
    routing through the same Spark round-6 expression the oracle mirrors
    (python round() is banker's — not a safe stand-in)."""
    from fortune_500_financial_insights_pipeline_spark.operators.similarity import probe_cells_col

    row = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            "embedding",
            probe_cells_col("embedding", centroids, n_probe).alias("p"),
        )
        .head()
    )
    return list(row["embedding"]), list(row["p"])

def _scored_labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier probs (q_classifier_score's exact model) joined with the
    binary is-English label — the shared eval frame for AUC/calibration."""
    from fortune_500_financial_insights_pipeline_spark.operators.text import classifier_score

    d = load_table(spark, sf_dir, "documents")
    weights = spark.range(256).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") % 21) * 50 - 500).cast("long").alias("w_fp"),
    )
    scored = classifier_score(d, weights)
    return scored.join(
        d.select("doc_id", (F.col("lang") == "en").cast("long").alias("label")),
        "doc_id",
    )


# Canonical shared-memo builds, in one place so tools/driver_sim.py can
# pre-pay them as explicitly-recorded "memo build" lines (the same
# bookkeeping split as its session-warmup line): the first consumer key of
# a build otherwise absorbs the whole deterministic construction in its
# per-key time, which mis-ranks the cost ordering the sim exists to feed.
# Each entry is (name, thunk(spark, sf_dir)) running the build to
# completion; all are memoized above, so consumer keys then pay only their
# marginal work. Production analogue: shared artifacts are built by a
# scheduled job, not billed to whichever query arrives first.
def _ann_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )


def _ann_kmeans(spark: SparkSession, sf_dir: str):
    """Coarse kmeans cells — the root artifact the probe and residual
    codebooks derive from."""
    from fortune_500_financial_insights_pipeline_spark.operators.kmeans import (
        kmeans_centroids,
    )

    emb = _ann_emb(spark, sf_dir)
    return _memo_trained(
        ("kmeans8x2", sf_dir), lambda: kmeans_centroids(emb, k=8, n_iter=2)
    )


def _ann_probe(spark: SparkSession, sf_dir: str):
    centroids = _ann_kmeans(spark, sf_dir)
    emb = _ann_emb(spark, sf_dir)
    return _memo_trained(
        ("q0probe8x2", sf_dir), lambda: _qvec_probe(emb, centroids)
    )


def _ann_pq(spark: SparkSession, sf_dir: str):
    from fortune_500_financial_insights_pipeline_spark.operators.pq import pq_train

    emb = _ann_emb(spark, sf_dir)
    return _memo_trained(
        ("pq4x4", sf_dir), lambda: pq_train(emb, m=4, k=4, n_iter=1, dim=64)
    )


def _ann_pq_residual(spark: SparkSession, sf_dir: str):
    from fortune_500_financial_insights_pipeline_spark.operators.pq import (
        pq_train_residual,
    )

    centroids = _ann_kmeans(spark, sf_dir)
    emb = _ann_emb(spark, sf_dir)
    return _memo_trained(
        ("pqres4x4", sf_dir),
        lambda: pq_train_residual(emb, centroids, m=4, k=4, n_iter=1, dim=64),
    )


def pq_codes(spark: SparkSession, sf_dir: str, *, residual: bool) -> DataFrame:
    """Memoized ENCODED-CODES frame for the PQ / residual-IVF-PQ keys —
    the stored index rows (Jégou et al. 2011: codes are computed at INDEX
    time; a query probes codes, never re-encodes the corpus).

    Round 10 (r9 verdict item 1): the r9 form hid this behind a
    ``localCheckpoint`` inside each query, which the bench's min-of-3
    silently warmed — "index state belongs in the declared memo lines,
    visible and excluded, not hidden inside min-of-3". This is that memo:
    bench.py prepays it as ``ann_pq_codes4x4`` / ``ann_pqres_codes4x4``
    with its own recorded ``memo_s`` line.

    Unlike the plain-Python artifact memos, the value here is a
    DataFrame handle (codes are corpus-sized — collecting them to the
    driver is exactly the wrong shape at 100 TB; production stores them
    as the index's parquet). The handle is only valid for the session
    that built it, so the memo is keyed per session and rebuilt on a
    session change (a cold process — e.g. the driver's one-process-per-
    query correctness runs — just builds it inline; results identical)."""
    from fortune_500_financial_insights_pipeline_spark.operators.pq import (
        pq_encode,
        pq_encode_residual,
    )

    key = ("pq_codes", sf_dir, residual)
    hit = _TRAINED_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if residual:
        centroids = _ann_kmeans(spark, sf_dir)
        books = _ann_pq_residual(spark, sf_dir)
        enc = pq_encode_residual(emb, centroids, books, m=4, dim=64)
    else:
        books = _ann_pq(spark, sf_dir)
        enc = pq_encode(emb, books, m=4, dim=64)
    # the stored-index lineage cut: one encode per session, every
    # consumer (and every bench pass) probes the materialized codes
    enc = enc.localCheckpoint(eager=False)
    _TRAINED_MEMO[key] = (spark, enc)
    return enc


def doc_suffix_sa(spark: SparkSession, sf_dir: str, cap: int = 40) -> DataFrame:
    """Memoized generalized suffix array over `documents` doc_id < cap
    (operators/suffix.suffix_array_tokens — the distributed
    prefix-doubling build). Three keys (q_suffix_array,
    q_suffix_lcp_spans, q_substring_dup_coverage) need the identical
    deterministic artifact per process; rows are (doc, pos, sa_rank)
    ints, corpus-slice-bounded like every memoized artifact here. The
    memoized rows ARE the distributed build's output (first caller pays
    the real shuffle rounds), so every consumer key still certifies the
    distributed algorithm."""
    from fortune_500_financial_insights_pipeline_spark.catalog import load_table
    from fortune_500_financial_insights_pipeline_spark.operators.suffix import (
        suffix_array_tokens,
    )

    def build():
        d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < cap)
        return [
            (r["doc_id"], r["pos"], r["sa_rank"])
            for r in suffix_array_tokens(d).collect()
        ]

    rows = _memo_trained(("doc_suffix_sa", sf_dir, cap), build)
    return spark.createDataFrame(rows, "doc_id long, pos int, sa_rank long")


def substring_bloom_state(
    spark: SparkSession, sf_dir: str, cap: int = 40, m_bits: int = 1 << 18
) -> str:
    """Memoized CDC-chunk Bloom-cascade STATE DIRECTORY over `documents`
    doc_id < cap — the persisted streaming-dedup state
    q_substring_reconcile audits. First caller pays the real
    batch-backfill build (streaming/boilerplate.boilerplate_batch_fn,
    identical semantics and atomic stage swaps as the stream path); the
    directory lives for the process (same shared-state class as
    doc_suffix_sa: an artifact job, not billable to whichever consumer
    runs first) and is removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    from fortune_500_financial_insights_pipeline_spark.catalog import load_table
    from fortune_500_financial_insights_pipeline_spark.streaming.boilerplate import (
        boilerplate_batch_fn,
    )

    def build() -> str:
        corpus = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < cap)
            .select("doc_id", "text")
        )
        state_dir = tempfile.mkdtemp(prefix="substring_bloom_state_")
        atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
        fn = boilerplate_batch_fn(
            "doc_id", "text", state_dir, lambda df, b: df.count(),
            min_docs=2, m_bits=m_bits,
        )
        fn(corpus, 0)
        return state_dir

    return _memo_trained(("substring_bloom_state", sf_dir, cap, m_bits), build)


MEMO_BUILDS: "list[tuple[str, Callable[[SparkSession, str], object]]]" = [
    ("doc_jaccard_pairs(3,0.3)", lambda s, d: doc_jaccard_pairs(s, d, 3, 0.3).count()),
    ("doc_jaccard_pairs(2,0.8)", lambda s, d: doc_jaccard_pairs(s, d, 2, 0.8).count()),
    ("doc_lsh_candidates", lambda s, d: doc_lsh_candidates(s, d).count()),
    ("bpe_merges_3", lambda s, d: bpe_merges_3(s, d)),
    ("walk_corpus", lambda s, d: walk_corpus(s, d).count()),
    # the ANN artifact family, one recorded line per artifact (round 7 —
    # the combined line read 5.92 s, hiding which artifact cost what)
    ("ann_kmeans8x2", _ann_kmeans),
    ("ann_q0probe", _ann_probe),
    ("ann_pq4x4", _ann_pq),
    ("ann_pqres4x4", _ann_pq_residual),
    # encoded-codes index rows (round 10 — r9 verdict item 1: index-time
    # state as a DECLARED, recorded line instead of a checkpoint the
    # bench min silently warms); count() forces materialization so the
    # memo_s line carries the encode cost
    ("ann_pq_codes4x4", lambda s, d: pq_codes(s, d, residual=False).count()),
    ("ann_pqres_codes4x4", lambda s, d: pq_codes(s, d, residual=True).count()),
    ("doc_suffix_sa(40)", lambda s, d: doc_suffix_sa(s, d).count()),
    ("substring_bloom_state(40)", lambda s, d: substring_bloom_state(s, d)),
]
