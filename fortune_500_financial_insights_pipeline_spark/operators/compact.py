"""Output-layout control: sizing partitions so writes neither explode into
small files nor serialize into few huge ones (SURVEY.md §4 — the reference
lands one parquet per pandas sheet and one JSONL object per file, both
small-files pessimizations at any real scale).

At 100 TB the failure mode flips between stages: a filtered write can carry
thousands of near-empty shuffle partitions (-> thousands of tiny files that
poison every later scan's listing), while a heavy aggregate can leave 32
fat partitions that under-parallelize the next job. Both fixes are the same
operator: estimate bytes from a driver-side plan sample, repartition to
ceil(bytes / target).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def estimate_bytes(df: DataFrame, sample_rows: int = 1000) -> int:
    """Cheap size estimate: average serialized row size over a driver sample
    × exact row count. One pass for the count, a LIMIT scan for the sample —
    no full materialization."""
    n = df.count()
    if n == 0:
        return 0
    sample = df.limit(min(sample_rows, n)).collect()
    avg = sum(len(repr(r)) for r in sample) / len(sample)
    return int(n * avg)


def collect_if_small(df: DataFrame, cap: int):
    """The driver-finish gate: ``df`` as a pandas frame when it has at most
    ``cap`` rows, else None. ONE ``limit(cap + 1).toPandas()`` job both
    decides and fetches, so driver memory is bounded by ``cap`` rows and
    the small path pays no separate count or checkpoint job. Over the cap
    the fetched rows are discarded and the caller runs its distributed
    path (cut its lineage there, not before the gate). ``cap == 0``
    returns None without starting a job. The transfer goes through Arrow,
    primitive columns rather than Row objects."""
    if not cap:
        return None
    pdf = df.limit(cap + 1).toPandas()
    return pdf if len(pdf) <= cap else None


def compact_for_write(
    df: DataFrame,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    by: list[str] | None = None,
) -> DataFrame:
    """Repartition to ~target-sized output partitions. ``by`` routes rows by
    key (keeps a downstream partitionBy from writing one file per input
    partition per key — the hidden multiplier in partitioned writes)."""
    n_parts = max(1, math.ceil(estimate_bytes(df) / target_bytes))
    if by:
        return df.repartition(n_parts, *by)
    return df.repartition(n_parts)


def ensure_min_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Input-side twin of compact_for_write: give a compact scan enough
    partitions to use the cluster.

    CPU-heavy per-row work (tokenization, per-token hashing, regex) scales
    with DATA VOLUME, but a scan's task count scales with FILE BYTES —
    compressed text diverges by an order of magnitude, and a single-row-group
    file cannot be split at all, so a "small" file can serialize minutes of
    compute on one core. When the plan has fewer partitions than
    ``defaultParallelism``, one input-sized shuffle (hash-keyed on
    ``key_cols`` so per-key locality — and map-side partial-agg collapse —
    survives) buys full parallelism. No-op for any input that already splits,
    so it is safe to leave on the 100 TB path.

    Call it on the NARROW projection (id + raw text), before the expensive
    derivation, so the heavy expressions run above the exchange.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    if key_cols:
        return df.repartition(sc.defaultParallelism, *key_cols)
    return df.repartition(sc.defaultParallelism)
