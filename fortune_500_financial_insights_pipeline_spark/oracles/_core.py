"""Shared oracle core: the ORACLES dict plus cross-part SQL helpers and
constant fragments. Split out of the former single-file oracles.py in
round 3; the public import path `fortune_500_financial_insights_pipeline_spark.oracles`
is unchanged (see __init__.py)."""

from __future__ import annotations

from fortune_500_financial_insights_pipeline_spark.operators.rproj import sign_entry as _rp_sign
from fortune_500_financial_insights_pipeline_spark.checks import BENFORD_EXPECTED as _BF
from fortune_500_financial_insights_pipeline_spark.functions.deterministic import sql_dsum as _dsum
import math as _math

ORACLES: dict[str, str] = {}


def _pagerank_oracle(iters: int = 10, d_num: int = 850, denom: int = 1000,
                     scale: int = 1_000_000_000) -> str:
    """The q_pagerank integer recurrence unrolled: fixed iteration count
    means the 'iterative' algorithm is just a deep CTE chain — DuckDB
    replays Spark's exact long arithmetic (// == Spark DIV on
    nonnegatives; the damping product is split to avoid overflow)."""
    teleport = (denom - d_num) * scale // denom
    parts = [f"""
WITH base AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM base
  UNION
  SELECT c AS src, s AS dst FROM base
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), deg AS (
  SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST({scale} AS BIGINT) AS rank_fp FROM nodes
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", r{k} AS (
  SELECT n.node,
         CAST({teleport}
              + (COALESCE(s.in_sum, 0) // {denom}) * {d_num}
              + ((COALESCE(s.in_sum, 0) % {denom}) * {d_num}) // {denom}
              AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(r.rank_fp // d.out_deg) AS BIGINT) AS in_sum
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)""")
    parts.append(f"\nSELECT node, rank_fp FROM r{iters}")
    return "".join(parts)

_Z_CUST = " + ".join(
    f"((((cn >> {i}) & 1)) << {i * 2})" for i in range(8)
)

_Z_DAY = " + ".join(
    f"((((dn >> {i}) & 1)) << {i * 2 + 1})" for i in range(8)
)

_EWMA_NUM = "0.0 + " + " + ".join(
    f"COALESCE(LAG(close, {j}) OVER w * {(0.5) ** j!r}, 0.0)" for j in range(10)
)

_EWMA_DEN = "0.0 + " + " + ".join(
    f"CASE WHEN LAG(close, {j}) OVER w IS NOT NULL THEN {(0.5) ** j!r} ELSE 0.0 END"
    for j in range(10)
)

_PROF_COL = """
SELECT '{c}' AS col_name, COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*) AS null_frac,
       CAST(MIN({c}) AS VARCHAR) AS min_s, CAST(MAX({c}) AS VARCHAR) AS max_s
FROM c
"""

_DAILY_ORDERS = """
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
  FROM orders GROUP BY 1
)
"""

_ACF_LAGS = list(range(1, 8))

_SG_ROWS = ",\n  ".join(
    f"({p},{d},{_rp_sign(p, d)})" for p in range(8) for d in range(64)
)

_BF_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({_BF[d]!r} AS DOUBLE)" for d in range(1, 10)
) + " END"

# k-core: the identical top-3 kNN edge set, then 3 unrolled peel rounds
# at k=4 (graph.kcore runs the same peels as a Python loop).
_KCORE_PEEL = """
d{r} AS (SELECT src, COUNT(*) AS deg FROM e{p} GROUP BY src),
k{r} AS (SELECT src FROM d{r} WHERE deg >= 4),
e{r} AS (
  SELECT e.src, e.dst FROM e{p} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)
"""

_BFS_ROUND = """
  SELECT id, MIN(hop) AS hop FROM (
    SELECT id, hop FROM {prev}
    UNION ALL
    SELECT b.u AS id, MIN(l.hop) + 1 AS hop
    FROM bfs_both b JOIN {prev} l ON b.v = l.id GROUP BY b.u
  ) GROUP BY id
"""

def _rbo_suffix_weight_literals(p: float = 0.9, depth: int = 10) -> str:
    # mirrors operators/retrieval.rbo_suffix_weights EXACTLY (same float
    # expression text -> same doubles -> same integer literals)
    s = [0.0] * (depth + 2)
    for m in range(depth, 0, -1):
        s[m] = s[m + 1] + (1.0 - p) * p ** (m - 1) / m
    scale = 10**12
    return ", ".join(str(round(v * scale)) for v in s[1 : depth + 1])

def _mmr_step_sql(k: int) -> str:
    p = k - 1
    return f"""score{k} AS (
  SELECT r.query_id, r.doc_id, r.rel, 0.7 * r.rel - 0.3 * MAX(p.s) AS mmr
  FROM cand r
  LEFT JOIN sel{p} x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
  JOIN pairs p ON p.query_id = r.query_id AND p.a = r.doc_id
  JOIN sel{p} t ON t.query_id = p.query_id AND t.doc_id = p.b
  WHERE x.doc_id IS NULL
  GROUP BY r.query_id, r.doc_id, r.rel
), pick{k} AS (
  SELECT query_id, doc_id, {k} AS step, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, doc_id ASC) AS rn
    FROM score{k}) WHERE rn = 1
), sel{k} AS (SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{k})"""

def _markov_iter_sql(k: int) -> str:
    p = k - 1
    return f"""p{k} AS MATERIALIZED (
  SELECT st.scenario, st.state,
         CAST(COALESCE(SUM(CASE WHEN tr.to_state = 'CONV' THEN tr.t6 * 1000000
                                ELSE (tr.t6 * pp.p) // 1000000 END), 0) AS BIGINT) AS p
  FROM states st
  LEFT JOIN strans tr ON tr.scenario = st.scenario AND tr.from_state = st.state
  LEFT JOIN p{p} pp ON pp.scenario = tr.scenario AND pp.state = tr.to_state
  GROUP BY st.scenario, st.state
)"""

_SCORED_LABELED_CTE = """w AS (
  SELECT CAST(b AS INTEGER) AS bucket,
         CAST((b % 21) * 50 - 500 AS BIGINT) AS w_fp
  FROM range(256) t(b)
), tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), f AS (
  SELECT doc_id,
         ((instr('0123456789abcdef',
                 substring(md5(concat('f|', CAST(term AS VARCHAR))), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef',
                   substring(md5(concat('f|', CAST(term AS VARCHAR))), 2, 1)) - 1))
           AS bucket
  FROM tok WHERE term <> ''
), s AS (
  SELECT f.doc_id, CAST(SUM(w.w_fp) AS BIGINT) AS sw, COUNT(*) AS nt
  FROM f JOIN w ON f.bucket = w.bucket GROUP BY f.doc_id
), labeled AS (
  SELECT s.doc_id,
         ROUND(1.0 / (1.0 + EXP(-(0.0 + s.sw / (1000.0 * s.nt)))), 6) AS prob,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM s JOIN documents d USING (doc_id)
)"""

def _als_iter_sql(k: int) -> str:
    p = k - 1
    return f"""u{k} AS MATERIALIZED (
  SELECT r.c,
         ROUND((CAST(SUM(CAST(ROUND((r.r * v.v) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
               / (CAST(SUM(CAST(ROUND((v.v * v.v) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000),
               6) AS u
  FROM ratings r JOIN v{p} v USING (p) GROUP BY r.c
), v{k} AS MATERIALIZED (
  SELECT r.p,
         ROUND((CAST(SUM(CAST(ROUND((r.r * u.u) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)
               / (CAST(SUM(CAST(ROUND((u.u * u.u) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000),
               6) AS v
  FROM ratings r JOIN u{k} u USING (c) GROUP BY r.p
)"""

def _ppr_oracle(iters: int = 10, d_num: int = 850, denom: int = 1000,
                scale: int = 1_000_000_000) -> str:
    """q_ppr's integer recurrence unrolled (the _pagerank_oracle shape with
    a seed-concentrated teleport and seed-only initialization)."""
    teleport = (denom - d_num) * scale // denom
    parts = [f"""
WITH base AS (
  SELECT DISTINCT l_suppkey AS s, o_custkey + 1000000 AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT s AS src, c AS dst FROM base
  UNION
  SELECT c AS src, s AS dst FROM base
), seedset AS (
  SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS node FROM supplier
  WHERE s_suppkey <= 5
), nodes AS (
  SELECT n.node, CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
  FROM (SELECT src AS node FROM edges UNION SELECT dst FROM edges) n
  LEFT JOIN seedset sd ON sd.node = n.node
), deg AS (
  SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST(CASE WHEN is_seed = 1 THEN {scale} ELSE 0 END AS BIGINT)
           AS rank_fp
  FROM nodes
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", r{k} AS MATERIALIZED (
  SELECT n.node,
         CAST(CASE WHEN n.is_seed = 1 THEN {teleport} ELSE 0 END
              + (COALESCE(s.in_sum, 0) // {denom}) * {d_num}
              + ((COALESCE(s.in_sum, 0) % {denom}) * {d_num}) // {denom}
              AS BIGINT) AS rank_fp
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM(r.rank_fp // d.out_deg) AS BIGINT) AS in_sum
    FROM edges e
    JOIN r{k - 1} r ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)""")
    parts.append(
        f"\nSELECT node, rank_fp FROM r{iters} "
        "ORDER BY rank_fp DESC, node ASC LIMIT 20"
    )
    return "".join(parts)

def _hits_iter_sql(k: int) -> str:
    p = k - 1
    return f"""araw{k} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST(SUM(CAST(ROUND(h.h * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS a
  FROM edges e JOIN h{p} h ON h.node = e.src GROUP BY e.dst
), a{k} AS MATERIALIZED (
  SELECT node, ROUND(a / (SELECT MAX(a) FROM araw{k}), 6) AS a FROM araw{k}
), hraw{k} AS MATERIALIZED (
  SELECT e.src AS node,
         CAST(SUM(CAST(ROUND(a.a * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS h
  FROM edges e JOIN a{k} a ON a.node = e.dst GROUP BY e.src
), h{k} AS MATERIALIZED (
  SELECT node, ROUND(h / (SELECT MAX(h) FROM hraw{k}), 6) AS h FROM hraw{k}
)"""

_ISO_DIM = 64

_ISO_COMPS = ",\n         ".join(
    f"SUM(CAST(ROUND(CAST(embedding[{i+1}] AS DOUBLE) * 10000) AS BIGINT)) AS c{i}"
    for i in range(_ISO_DIM)
)

_ISO_MEANSQ = " + ".join(
    f"(CAST(c{i} AS DOUBLE) / 10000 / n_vecs) * (CAST(c{i} AS DOUBLE) / 10000 / n_vecs)"
    for i in range(_ISO_DIM)
)

def _logreg_iter_sql(k: int) -> str:
    p = k - 1
    return f"""g{k} AS MATERIALIZED (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND((o.y - 1.0 / (1.0 + EXP(-(CAST(w.w0 AS DOUBLE) / 1000000000
                 + CAST(w.w1 AS DOUBLE) / 1000000000 * o.x))))
                 * 1000000000) AS BIGINT)) AS BIGINT) AS s0,
         CAST(SUM(CAST(ROUND((o.y - 1.0 / (1.0 + EXP(-(CAST(w.w0 AS DOUBLE) / 1000000000
                 + CAST(w.w1 AS DOUBLE) / 1000000000 * o.x)))) * o.x
                 * 1000000000) AS BIGINT)) AS BIGINT) AS s1,
         MAX(w.w0) AS w0, MAX(w.w1) AS w1
  FROM odata o CROSS JOIN w{p} w
), w{k} AS MATERIALIZED (
  SELECT CAST(w0 + CAST(ROUND(1.0 * s0 / n) AS BIGINT) AS BIGINT) AS w0,
         CAST(w1 + CAST(ROUND(1.0 * s1 / n) AS BIGINT) AS BIGINT) AS w1
  FROM g{k}
)"""

_LLR_YES = round(_math.log(0.95 / 0.85) * 1e9)

_LLR_NO = round(_math.log(0.05 / 0.15) * 1e9)

_LLR_BOUND = round(_math.log(19.0) * 1e9)
