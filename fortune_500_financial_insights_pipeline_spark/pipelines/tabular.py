"""Financial-statement pipeline: per-(sheet, ticker) CSVs → one wide table
per sheet — the Spark-native rebuild of the reference's pandas transpose job
(/root/reference/code/scripts/transform_job_tabular_entitities.py), which ran
entirely on the driver (0 executors used despite running on a cluster).

Shape of the input (FIXTURES.md §2.4): first column holds line-item names
(pandas calls it ``Unnamed: 0``), remaining columns are period-end dates;
one file per ticker. Different files can carry different period columns, so
a naive multi-file CSV read has no stable schema.

The scalable design: normalize each file to a LONG frame
``(Ticker, line_item, period, value)`` — unpivot is schema-stable no matter
which periods a file has — union the long frames, then do ONE distributed
pivot (line-item filter applied in long form, where it's a cheap semi-filter)
grouped by (Ticker, period). The pivot's value list is pinned to the interest
list, so column order is deterministic and no distinct-discovery job runs.
The per-file loop only builds plan nodes (reading tiny headers); all row work
is executor-side, keyed by (Ticker, period) — parallel in ticker count.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fortune_500_financial_insights_pipeline_spark.operators.pivot import pivot_wide


def _file_to_long(spark: SparkSession, path: str, ticker: str) -> DataFrame:
    df = spark.read.csv(path, header=True, inferSchema=False)
    line_item_col = df.columns[0]  # unnamed in the raw file
    period_cols = df.columns[1:]
    return df.withColumnRenamed(line_item_col, "line_item").unpivot(
        ["line_item"], period_cols, "period", "value"
    ).withColumn("Ticker", F.lit(ticker))


def statements_wide(
    spark: SparkSession,
    files: dict[str, str],
    interest_items: list[str],
) -> DataFrame:
    """files: {TICKER: csv_path}; returns one row per (Ticker, period) with a
    column per interest line-item (the reference's transpose+isin,
    transform_job_tabular_entitities.py:19-26)."""
    longs = [_file_to_long(spark, p, t) for t, p in files.items()]
    long_df = reduce(lambda a, b: a.unionByName(b), longs)
    filtered = long_df.filter(F.col("line_item").isin(interest_items))
    wide = pivot_wide(
        filtered,
        group_cols=["Ticker", "period"],
        pivot_col="line_item",
        values=interest_items,
        agg=F.first(F.col("value").cast("double"), ignorenulls=True),
    )
    return wide.withColumnRenamed("period", "Date")


def to_warehouse_columns(df: DataFrame) -> DataFrame:
    """Line-item display names → DDL column names: non-alphanumerics become
    underscores ('Total Revenue' → 'Total_Revenue', matching
    /root/reference/code/sql/DDLs:241), so the wide frame conforms to the
    QUARTERLY/BALANCESHEET5Y/CASHFLOW5Y schemas via warehouse.conform."""
    import re

    renames = {c: re.sub(r"[^0-9a-zA-Z]+", "_", c).strip("_") for c in df.columns}
    out = df
    for old, new in renames.items():
        if old != new:
            out = out.withColumnRenamed(old, new)
    return out


def publish_statements(df: DataFrame, base_path: str, table: str) -> str:
    """Write-audit-publish form of the statement load
    (warehouse.wap_publish): the wide frame stages under
    ``<base>/<table>/v=<n>``, the DDL key constraints (NOT NULL + UNIQUE
    on (Ticker, Date) — one statement row per company-period,
    code/sql/DDLs' QUARTERLY/BALANCESHEET5Y/CASHFLOW5Y key) run against
    the staged files, and only a green audit flips the live pointer; a
    failed load leaves the previous version live."""
    from fortune_500_financial_insights_pipeline_spark.checks import not_null, unique_key
    from fortune_500_financial_insights_pipeline_spark.warehouse import wap_publish

    return wap_publish(
        df,
        base_path,
        table,
        audits=[not_null("Ticker", "Date"), unique_key("Ticker", "Date")],
    )
