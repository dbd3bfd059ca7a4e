"""Seeded generator for the engine's ten fixture tables, plus the
near-duplicate corpus of the dedup_graph workload.

The tables follow the schemas and value distributions of the engine's
fixture tables (TESTDATA.md: a TPC-H-like star schema, an events stream,
a text corpus and an embedding table), so every registered query and its
DuckDB oracle run on them unchanged. Each table is written as one parquet file named
``<table>.parquet`` in the output directory, the layout
``catalog.load_table`` and ``testing.run_oracle`` read.

Same seed, same bytes: all values come from one ``numpy`` generator
seeded by the caller, and the parquet writer is given fixed options and
no pandas metadata.

Why the dedup corpus exists: near-duplicate detection costs grow with
how many documents share an LSH bucket, and the fixture corpus holds
almost no near duplicates. ``dedup_corpus`` tiles the base corpus with
perturbed copies under shifted ids (the shape of the 10x scale probe),
so every bucket holds several documents and candidate pairs grow
quadratically with the copy count, as they do on real crawls.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# id shift per near-duplicate copy, far above any base id
COPY_STRIDE = 1_000_000


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale``, matching the fixture sets at
    scale 0.001, 0.01 and 0.1 (documents and embeddings have a floor of
    500 rows, so sf0.001 and sf0.01 share them); ``users`` is the number
    of distinct event user ids."""
    return {
        "supplier": max(10, int(10_000 * scale)),
        "customer": max(150, int(150_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "users": max(150, int(15_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n).astype(np.int64) * 86_400_000_000
    return _ts(dt.datetime(lo.year, lo.month, lo.day), d)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word corpus; about 5% of the documents are an earlier
    document with ``" dup"`` appended, as in the fixture corpus."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
        }
    )
    npart = n["part"]
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist()),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
            ),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.10, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist()),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, ne))),
            "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = (rng.standard_normal((nv, 64)) * 0.15).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        }
    )
    return out


def planted_pairs(base_ids: list[int], copies: int) -> tuple[set, set]:
    """The near-duplicate pairs ``dedup_corpus`` plants, as (smaller id,
    larger id): every base document with each of its copies, and every
    two copies of the same base document."""
    base_copy, copy_copy = set(), set()
    for i in base_ids:
        ids = [i + c * COPY_STRIDE for c in range(copies + 1)]
        base_copy.update((i, j) for j in ids[1:])
        copy_copy.update((a, b) for k, a in enumerate(ids[1:], 1) for b in ids[k + 1:])
    return base_copy, copy_copy


def dedup_corpus(base: pa.Table, seed: int, copies: int, flip: float) -> pa.Table:
    """``base`` plus ``copies`` perturbed copies of every document.

    Copy ``c`` shifts ids by ``c * COPY_STRIDE`` and replaces each word
    with a random vocabulary word with probability ``flip``, so copies
    are near (not exact) duplicates of their base document and of each
    other."""
    rng = np.random.default_rng([seed, 7])
    ids = base.column("doc_id").to_pylist()
    texts = base.column("text").to_pylist()
    parts = [base]
    for c in range(1, copies + 1):
        new_texts = []
        for t in texts:
            words = t.split(" ")
            hits = rng.random(len(words)) < flip
            repl = rng.integers(0, len(VOCAB), len(words))
            new_texts.append(
                " ".join(VOCAB[r] if h else w for w, h, r in zip(words, hits, repl))
            )
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array([i + c * COPY_STRIDE for i in ids], type=pa.int64()),
                    "text": pa.array(new_texts),
                    "lang": base.column("lang"),
                    "source": base.column("source"),
                    "n_chars": pa.array([len(t) for t in new_texts], type=pa.int64()),
                }
            )
        )
    return pa.concat_tables(parts)


def write_tables(tabs: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tabs.items():
        pq.write_table(
            t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
        )
    return {name: t.num_rows for name, t in tabs.items()}
