"""The benchmark's three workloads.

Every workload has the same life cycle, driven by ``run.py``:

1. ``generate``: write the seeded inputs under the run's work directory
   (untimed);
2. ``setup``: what a user pays once per process after the session
   starts: one warm-up pass over every key or step, whose outputs are
   kept for checking (timed, and reported in ``setup_s`` together with
   the session start);
3. ``round``: one round of measured operations, each a (name, seconds,
   ok) triple; rounds repeat until the run's time is used;
4. ``verify``: after the measured rounds and the peak-memory reading,
   compare outputs with independent results (untimed); a wrong output
   fails every operation that produced it;
5. ``probe`` (traced run only): direct calls into single layers, after
   the measured rounds, for the per-layer metrics the rounds cannot
   attribute.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen_feeds
import gen_tables

# Scale of the generated fixture tables (lineitem 60k rows). The keys
# are sub-second here, where construction, Catalyst and job scheduling
# dominate; at this size one warm-up pass over a workload still fits the
# run budget on a 4-core host.
SCALE = 0.01


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    build_s: float = 0.0
    round: int = -1


@dataclass
class Ctx:
    spark: object
    tracer: object
    session_s: float = 0.0
    setup_s: float = 0.0
    # per-layer values measured by probes, keyed by metric name
    layer: dict = field(default_factory=dict)


def force(df) -> None:
    """Execute every column of ``df`` and discard the rows (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if np.isnan(a) and np.isnan(b):
            return True
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def frames_match(left, right) -> bool:
    """Order-insensitive equality of two pandas frames, floats within 1e-6
    relative, decimals compared as floats, dates as ISO strings."""
    import datetime as dt
    from decimal import Decimal

    if sorted(left.columns) != sorted(right.columns) or len(left) != len(right):
        return False
    cols = sorted(left.columns)

    def norm(v):
        if isinstance(v, Decimal):
            return float(v)
        if isinstance(v, dt.datetime) and v.time() != dt.time():
            return v.isoformat()
        if isinstance(v, dt.date):
            return v.isoformat()[:10]
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, (np.floating, float)):
            return None if np.isnan(v) else float(v)
        return v

    def rows(df):
        out = [tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
        return sorted(out, key=repr)

    return all(
        all(_close(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(rows(left), rows(right))
    )


class QueryWorkload:
    """Shared shape of the two registry workloads: each operation builds
    one registered query and forces it with the noop sink."""

    keys: list[str] = []
    tables: dict[str, list[str]] = {}

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data = os.path.join(work, "data")
        self.rows: dict[str, int] = {}
        self.outputs: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        # facts the checks measured, printed on the host line
        self.notes: dict[str, float] = {}

    def generate(self) -> None:
        self.rows = gen_tables.write_tables(gen_tables.tables(self.seed, SCALE), self.data)

    @property
    def rows_per_round(self) -> int:
        return sum(self.rows[t] for k in self.round_keys(0) for t in self.tables[k])

    def round_keys(self, i: int) -> list[str]:
        return list(self.keys)

    def setup(self, ctx: Ctx) -> None:
        from fortune_500_financial_insights_pipeline_spark.queries import QUERIES

        for key in self.keys:
            with ctx.tracer.span(f"warmup:{key}", "session", spark_group=True):
                try:
                    self.outputs[key] = QUERIES[key](ctx.spark, self.data).toPandas()
                except Exception as e:  # noqa: BLE001 — a failing key is reported, not fatal
                    self.errors[key] = f"{type(e).__name__}: {e}"
            gc.collect()

    def round(self, ctx: Ctx, i: int) -> list[Op]:
        from fortune_500_financial_insights_pipeline_spark.queries import QUERIES

        ops = []
        for key in self.round_keys(i):
            trace = f"r{i}:{key}"
            t0 = time.perf_counter()
            ok = True
            with ctx.tracer.span(key, "request", trace=trace):
                try:
                    with ctx.tracer.span(key, "queries", spark_group=True):
                        df = QUERIES[key](ctx.spark, self.data)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(key, "execute", spark_group=True):
                        force(df)
                    del df
                except Exception as e:  # noqa: BLE001 — counted as a failed operation
                    self.errors.setdefault(key, f"{type(e).__name__}: {e}")
                    ok = False
                    t1 = t0
            t2 = time.perf_counter()
            ops.append(Op(key, t2 - t0, ok, build_s=t1 - t0))
            gc.collect()
        return ops

    def verify(self, ctx: Ctx, ops: list[Op]) -> None:
        """Fail every operation of a key that raised, or whose warm-up
        output differs from the DuckDB oracle (or from the key's own check
        where it has no oracle or its output is too large to compare row
        by row)."""
        from fortune_500_financial_insights_pipeline_spark.oracles import ORACLES
        from fortune_500_financial_insights_pipeline_spark.testing import (
            compare_frames,
            run_oracle,
        )

        wrong = set(self.errors)
        for key, got in self.outputs.items():
            check = getattr(self, f"check_{key}", None)
            if check is not None:
                problems = check(ctx, got)
            else:
                problems = compare_frames(got, run_oracle(ORACLES[key], self.data))
            if problems:
                self.errors[key] = "; ".join(problems)[:300]
                wrong.add(key)
        for o in ops:
            o.ok = o.ok and o.name not in wrong

    def probe(self, ctx: Ctx) -> None:
        """catalog.load_s: the mean time of one ``load_table`` call."""
        from fortune_500_financial_insights_pipeline_spark.catalog import load_table

        names = sorted({t for k in self.keys for t in self.tables[k]})
        t0 = time.perf_counter()
        for name in names:
            with ctx.tracer.span(f"load:{name}", "catalog"):
                load_table(ctx.spark, self.data, name)
        ctx.layer["catalog.load_s"] = (time.perf_counter() - t0) / len(names)


class AnalystMix(QueryWorkload):
    """Closed loop, one client, no think time.

    Why: sub-second relational, window, finance and stats queries, where
    per-query construction, Catalyst and job scheduling dominate. The mix
    touches no loop operator, no LSH and no write, so a change to the
    iteration primitives or to candidate-pair expansion should leave it
    unchanged. Each round is a seeded permutation of every key once, so
    each round carries the same work in a different order."""

    tables = {
        "q_groupby_agg": ["lineitem"],
        "q_join_inner": ["customer", "orders"],
        "q_join_broadcast": ["lineitem", "part"],
        "q_join_left": ["customer", "orders"],
        "q_window_rank": ["orders"],
        "q_window_cumsum": ["lineitem"],
        "q_topk": ["orders"],
        "q_fifo_pnl": ["lineitem"],
        "q_cov_matrix": ["lineitem"],
        "q_ols_multi": ["lineitem"],
        "q_auc": ["documents"],
        "q_rolling_median": ["lineitem"],
        "q_mahalanobis": ["lineitem"],
    }
    keys = list(tables)

    def round_keys(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, i])
        return [self.keys[j] for j in rng.permutation(len(self.keys))]


class DedupGraph(QueryWorkload):
    """Rounds of the dedup and graph key family over a seeded corpus with
    perturbed near-duplicate copies.

    Why: loops that run Spark jobs while the query is being built
    (connected components, k-core, BFS) and the quadratic growth of LSH
    candidate pairs both live here; it is the workload that exercises
    changes to the iteration primitives and to skew-bounded candidate
    expansion."""

    tables = {
        "q_minhash_neardup": ["documents"],
        "q_er_pipeline": ["customer"],
        "q_kcore": ["events"],
        "q_shortest_path": ["lineitem", "orders", "supplier"],
    }
    keys = list(tables)
    # near-duplicate copies per base document, and the per-word chance a
    # copy differs from its base
    COPIES = 2
    FLIP = 0.05

    # 1,500 base documents, so with the copies the corpus holds 4,500,
    # 0.9 times the sf0.1 corpus; the other tables stay at SCALE. On a
    # 4-core host 15,000 documents (3x sf0.1) raise q_minhash_neardup from
    # about 2.0 to 3.7 s and a round from about 8.5 to 10.5 s, too long
    # for three measured rounds in each of 48 runs in under an hour.
    # q_simhash_pairs is left out for the same budget: its ~600k pairs
    # cost about 2 s a round, 4 s of warm-up and 6 s of oracle check.
    DOC_SCALE = 0.03
    # least share of the planted pairs q_minhash_neardup must return, set
    # below the recall of 16 hashes in 4 bands on this corpus (0.746 to
    # 0.771 for base/copy and 0.429 to 0.479 for copy/copy pairs over
    # seeds 1-12 and 301-305); either floor is more than four binomial
    # standard deviations below the mean
    MIN_RECALL = {"base_copy": 0.72, "copy_copy": 0.39}

    def generate(self) -> None:
        tabs = gen_tables.tables(self.seed, SCALE)
        n_docs = gen_tables.sizes(self.DOC_SCALE)["documents"]
        base = gen_tables.documents(np.random.default_rng([self.seed, 5]), n_docs)
        tabs["documents"] = gen_tables.dedup_corpus(base, self.seed, self.COPIES, self.FLIP)
        self.rows = gen_tables.write_tables(tabs, self.data)
        self.planted = dict(zip(
            ("base_copy", "copy_copy"),
            gen_tables.planted_pairs(base.column("doc_id").to_pylist(), self.COPIES),
        ))

    def check_q_minhash_neardup(self, ctx: Ctx, got) -> list[str]:
        """The minhash key has no oracle (engine-specific hashing). Each
        pair must appear once with id_a < id_b, its jac must equal the
        word-trigram Jaccard recomputed here and be >= min_jaccard, and
        the pairs must include at least ``MIN_RECALL`` of the planted
        near-duplicate pairs of each kind."""
        import pyarrow.parquet as pq

        problems = []
        pairs = list(zip(got["id_a"].tolist(), got["id_b"].tolist()))
        if len(set(pairs)) != len(pairs):
            problems.append("duplicate candidate pairs")
        if any(a >= b for a, b in pairs):
            problems.append("pair with id_a >= id_b")
        if len(got) and got["jac"].min() < 0.2:
            problems.append("pair below min_jaccard 0.2")
        docs = pq.read_table(os.path.join(self.data, "documents.parquet"), columns=["doc_id", "text"])
        text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))

        def grams(t: str) -> set[str]:
            tk = t.split(" ")
            return {" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)}

        off = 0
        for a, b, jac in zip(got["id_a"].tolist(), got["id_b"].tolist(), got["jac"].tolist()):
            ga, gb = grams(text[a]), grams(text[b])
            off += abs(len(ga & gb) / len(ga | gb) - jac) > 2e-6
        if off:
            problems.append(f"{off} pairs whose jac differs from the recomputed Jaccard")
        found = set(pairs)
        for kind, planted in self.planted.items():
            recall = len(planted & found) / len(planted)
            self.notes[f"minhash_recall.{kind}"] = round(recall, 4)
            if recall < self.MIN_RECALL[kind]:
                problems.append(f"{kind} recall {recall:.3f} < {self.MIN_RECALL[kind]}")
        return problems

    def probe(self, ctx: Ctx) -> None:
        """Operator-level counts: LSH candidates against kept pairs, and
        the construction cost of connected components on them."""
        super().probe(ctx)
        from fortune_500_financial_insights_pipeline_spark.catalog import load_table
        from fortune_500_financial_insights_pipeline_spark.operators import graph, minhash

        docs = load_table(ctx.spark, self.data, "documents")
        with ctx.tracer.span("minhash.candidates", "operators", spark_group=True):
            cands = minhash.minhash_neardup_pairs(
                docs, id_col="doc_id", text_col="text",
                n_hashes=16, bands=4, min_jaccard=0.0,
            ).localCheckpoint()
            n_cand = cands.count()
        n_kept = cands.where("jac >= 0.2").count()
        ctx.layer["operators.minhash.candidate_pairs"] = n_cand
        ctx.layer["operators.minhash.kept_per_candidate"] = n_kept / max(1, n_cand)
        with ctx.tracer.span("graph.connected_components", "operators", spark_group=True) as s:
            comps = graph.connected_components(cands.where("jac >= 0.2"), "id_a", "id_b")
        ctx.layer["operators.graph.build_s"] = s.duration
        force(comps)
        del comps, cands
        gc.collect()


class EltLoad:
    """The ELT graph end to end, then an incremental refresh, an audit and
    the serving reads.

    Why: the only workload that writes. It drives the sources, pipelines,
    plans, warehouse and checks modules, which the query workloads
    bypass, and shows when a read-side gain costs writes."""

    N_TICKERS = 8
    STEPS = {"elt_dag": "plans", "refresh_dag": "plans", "audit": "checks", "serve": "warehouse"}

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.errors: dict[str, str] = {}
        self.notes: dict[str, float] = {}
        # one entry per round (the warm-up round first): its warehouse
        # directory and step outputs, checked in verify
        self.results: list[dict] = []
        self.warm_ops: list[Op] = []

    def generate(self) -> None:
        self.feeds = gen_feeds.generate(os.path.join(self.work, "raw"), self.seed, self.N_TICKERS)
        self.expected = len(self.feeds.keys)
        self.expected_after = len(self.feeds.keys | gen_feeds.refresh_keys(self.feeds))

    @property
    def rows_per_round(self) -> int:
        return self.feeds.raw_rows

    def setup(self, ctx: Ctx) -> None:
        # one unmeasured round warms every step; its output is checked too
        self.warm_ops = self.round(ctx, -1)

    def round(self, ctx: Ctx, i: int) -> list[Op]:
        from fortune_500_financial_insights_pipeline_spark import checks
        from fortune_500_financial_insights_pipeline_spark import warehouse as WH
        from fortune_500_financial_insights_pipeline_spark.plans.jobs import (
            build_elt_dag,
            build_refresh_dag,
        )

        spark, f = ctx.spark, self.feeds
        wh = os.path.join(self.work, f"wh{i}")
        res: dict = {"wh": wh, "round": i}
        self.results.append(res)

        def run_dag(dag):
            """Task results keyed ``<dag>.<task>``."""
            return {f"{dag.name}.{k}": r for k, r in dag.run().items()}

        steps = {
            "elt_dag": lambda: run_dag(build_elt_dag(
                spark, f.glob("kaggle"), f.glob("api"), f.glob("info"), f.glob("esg"), wh
            )),
            "refresh_dag": lambda: run_dag(build_refresh_dag(
                spark, f.tickers, f.refresh_start.isoformat(), f.refresh_days, wh
            )),
            "audit": lambda: checks.run_checks(
                spark.read.parquet(os.path.join(wh, "openclose")),
                checks.not_null("Ticker", "Date"),
                checks.unique_key("Ticker", "Date"),
            ),
            "serve": lambda: {
                name: WH.serve(spark, name).toPandas() for name in WH.SERVING_QUERIES
            },
        }
        ops = []
        for name, layer in self.STEPS.items():
            t0 = time.perf_counter()
            ok = True
            with ctx.tracer.span(name, "request", trace=f"r{i}:{name}"):
                with ctx.tracer.span(name, layer, spark_group=True):
                    try:
                        res[name] = steps[name]()
                    except Exception as e:  # noqa: BLE001 — counted as a failed operation
                        self.errors.setdefault(name, f"{type(e).__name__}: {e}")
                        ok = False
            if ok and name.endswith("_dag"):
                failed = {k: r.error for k, r in res[name].items() if r.status != "success"}
                if failed:
                    self.errors.setdefault(name, str(failed))
                    ok = False
            ops.append(Op(name, time.perf_counter() - t0, ok))
            gc.collect()
        return ops

    def check(self, res: dict) -> set[str]:
        """Steps of one round whose output is wrong: row counts from the
        generator, zero audit violations, and the serving results
        recomputed by DuckDB over the written parquet."""
        import duckdb

        from fortune_500_financial_insights_pipeline_spark import warehouse as WH

        wh = res["wh"]
        problems: dict[str, str] = {}
        if "elt_dag" in res:
            loaded = res["elt_dag"]["f500_elt.transform_open_close"].output
            if loaded != self.expected:
                problems["elt_dag"] = f"openclose rows {loaded} != {self.expected}"
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW openclose AS SELECT * FROM read_parquet("
                f"'{wh}/openclose/*/*.parquet', hive_partitioning=true)"
            )
            con.execute(
                f"CREATE VIEW metadata AS SELECT * FROM read_parquet('{wh}/metadata/*.parquet')"
            )
            n = con.execute("SELECT count(*) FROM openclose").fetchone()[0]
            if "refresh_dag" in res and n != self.expected_after:
                problems["refresh_dag"] = f"rows after refresh {n} != {self.expected_after}"
            if "audit" in res and any(r.violations for r in res["audit"]):
                problems["audit"] = str([(r.name, r.violations) for r in res["audit"]])
            for name, sql in WH.SERVING_QUERIES.items():
                if "serve" in res and not frames_match(res["serve"][name], con.execute(sql).df()):
                    problems["serve"] = f"serving query {name} differs from DuckDB"
        finally:
            con.close()
        files = [
            os.path.join(d, fn) for d, _, fns in os.walk(wh) for fn in fns if fn.endswith(".parquet")
        ]
        res["files"] = len(files)
        res["bytes"] = sum(os.path.getsize(p) for p in files)
        res.pop("serve", None)
        shutil.rmtree(wh, ignore_errors=True)
        self.errors.update(problems)
        return set(problems)

    def verify(self, ctx: Ctx, ops: list[Op]) -> None:
        """Check every round's warehouse. A wrong step fails that round's
        operation; a step that failed or was wrong in the warm-up round
        fails that step in every round."""
        bad = {res["round"]: self.check(res) for res in self.results}
        warm = bad.pop(-1) | {o.name for o in self.warm_ops if not o.ok}
        for o in ops:
            o.ok = o.ok and o.name not in warm and o.name not in bad[o.round]

    def probe(self, ctx: Ctx) -> None:
        """Per-layer values of the measured rounds, then direct calls into
        the sources, pipelines and warehouse layers over the same feeds."""
        from fortune_500_financial_insights_pipeline_spark import warehouse as WH
        from fortune_500_financial_insights_pipeline_spark.operators.standardize import (
            standardize_api,
            standardize_kaggle,
        )
        from fortune_500_financial_insights_pipeline_spark.pipelines.entity_json import (
            info_pipeline,
            sustainability_pipeline,
        )
        from fortune_500_financial_insights_pipeline_spark.pipelines.open_close import open_close
        from fortune_500_financial_insights_pipeline_spark.sources import market_api
        from fortune_500_financial_insights_pipeline_spark.sources.ohlcv import (
            read_api_csv,
            read_kaggle_csv,
        )

        spark, f, L = ctx.spark, self.feeds, ctx.layer
        measured = self.results[1:]
        L["warehouse.bytes_written"] = statistics.median(r["bytes"] for r in measured)
        L["warehouse.files_written"] = statistics.median(r["files"] for r in measured)
        L["warehouse.write_bytes_per_input_byte"] = L["warehouse.bytes_written"] / f.input_bytes()
        tasks = [r[s] for r in measured for s in ("elt_dag", "refresh_dag") if s in r]
        for name in {k for t in tasks for k in t}:
            L[f"plans.task_s.{name}"] = statistics.median(
                t[name].elapsed for t in tasks if name in t
            )
        L["plans.retries"] = sum(r.attempts - 1 for t in tasks for r in t.values()) / len(measured)

        t0 = time.perf_counter()
        with ctx.tracer.span("read_raw", "sources", spark_group=True):
            kaggle = read_kaggle_csv(spark, f.glob("kaggle"))
            api = read_api_csv(spark, f.glob("api"))
            rows_in = kaggle.count() + api.count()
        L["sources.read_s"] = time.perf_counter() - t0
        L["sources.rows_in"] = rows_in
        kept = standardize_kaggle(kaggle).count() + standardize_api(api).count()
        L["sources.rows_quarantined"] = rows_in - kept
        t0 = time.perf_counter()
        with ctx.tracer.span("open_close", "pipelines", spark_group=True):
            oc = open_close(spark, f.glob("kaggle"), f.glob("api"), dedup=True)
            force(oc)
        L["pipelines.open_close_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with ctx.tracer.span("entity_json", "pipelines", spark_group=True):
            force(info_pipeline(spark, f.glob("info")))
            force(sustainability_pipeline(spark, f.glob("esg"), with_ticker=True))
        L["pipelines.entity_json_s"] = time.perf_counter() - t0
        wh = os.path.join(self.work, "wh-probe")
        t0 = time.perf_counter()
        with ctx.tracer.span("write_table", "warehouse", spark_group=True):
            WH.write_table(oc, wh, "openclose")
        L["warehouse.write_s"] = time.perf_counter() - t0
        market_api.register(spark)
        feed = (
            spark.read.format("market_api")
            .option("tickers", ",".join(f.tickers))
            .option("start", f.refresh_start.isoformat())
            .option("days", str(f.refresh_days))
            .load()
            .localCheckpoint()
        )
        t0 = time.perf_counter()
        with ctx.tracer.span("upsert_table", "warehouse", spark_group=True):
            WH.upsert_table(spark, wh, "openclose", feed, keys=["Ticker", "Date"])
        L["warehouse.upsert_s"] = time.perf_counter() - t0


WORKLOADS = {"analyst_mix": AnalystMix, "dedup_graph": DedupGraph, "elt_load": EltLoad}
