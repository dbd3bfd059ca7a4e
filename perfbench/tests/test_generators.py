"""The benchmark's inputs are a function of the seed alone."""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen_feeds  # noqa: E402
import gen_tables  # noqa: E402


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def write_tables(root, seed: int) -> dict[str, str]:
    tabs = gen_tables.tables(seed, 0.001)
    tabs["documents"] = gen_tables.dedup_corpus(tabs["documents"], seed, 2, 0.05)
    gen_tables.write_tables(tabs, str(root))
    return digest(str(root))


def test_tables_same_seed_same_bytes(tmp_path):
    a = write_tables(tmp_path / "a", 5)
    b = write_tables(tmp_path / "b", 5)
    assert len(a) == 10
    assert a == b
    assert write_tables(tmp_path / "c", 6) != a


def test_feeds_same_seed_same_bytes(tmp_path):
    fa = gen_feeds.generate(str(tmp_path / "a"), 5, 3)
    fb = gen_feeds.generate(str(tmp_path / "b"), 5, 3)
    assert digest(fa.root) == digest(fb.root)
    assert (fa.keys, fa.quarantined, fa.refresh_start) == (
        fb.keys, fb.quarantined, fb.refresh_start
    )
    assert digest(gen_feeds.generate(str(tmp_path / "c"), 6, 3).root) != digest(fa.root)


def test_feeds_expected_counts_match_files(tmp_path):
    """The expected load the checks rely on agrees with the raw files:
    every bad-date row is counted as quarantined and every other row is
    one of the expected (Ticker, Date) keys."""
    f = gen_feeds.generate(str(tmp_path), 9, 4)
    bad = rows = 0
    for name in os.listdir(os.path.join(f.root, "kaggle")):
        with open(os.path.join(f.root, "kaggle", name)) as fh:
            lines = fh.read().splitlines()[1:]
        rows += len(lines)
        bad += sum(1 for line in lines if line.split(",")[0] in gen_feeds.BAD_DATES)
    assert bad == f.quarantined > 0
    kaggle_keys = {k for k in f.keys if k[1] <= gen_feeds.KAGGLE_END}
    assert rows - bad == len(kaggle_keys)
    assert gen_feeds.refresh_keys(f) - f.keys  # the refresh appends new dates


@pytest.mark.parametrize("copies", [1, 3])
def test_dedup_corpus_shifts_ids_and_perturbs(tmp_path, copies):
    base = gen_tables.tables(3, 0.001)["documents"]
    tiled = gen_tables.dedup_corpus(base, 3, copies, 0.05)
    assert tiled.num_rows == base.num_rows * (copies + 1)
    ids = tiled.column("doc_id").to_pylist()
    assert len(set(ids)) == len(ids)
    assert max(ids) == copies * gen_tables.COPY_STRIDE + base.num_rows - 1
    texts = tiled.column("text").to_pylist()
    n = base.num_rows
    changed = sum(texts[i] != texts[n + i] for i in range(n))
    assert 0 < changed < n  # near duplicates, not all identical or all new
    gen_tables.write_tables({"documents": tiled}, str(tmp_path))
    assert pq.read_table(tmp_path / "documents.parquet").num_rows == tiled.num_rows


def test_planted_pairs_cover_every_base_and_copy():
    base_copy, copy_copy = gen_tables.planted_pairs([0, 7], 3)
    s = gen_tables.COPY_STRIDE
    assert len(base_copy) == 2 * 3 and len(copy_copy) == 2 * 3
    assert (7, 7 + 3 * s) in base_copy
    assert (7 + s, 7 + 2 * s) in copy_copy
    assert all(a < b for a, b in base_copy | copy_copy)
