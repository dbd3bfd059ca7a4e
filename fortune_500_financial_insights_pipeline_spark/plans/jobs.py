"""End-to-end job wiring: the reference's four transform DAGs
(SURVEY.md §3) as one task graph over this engine's pipelines, landing
DDL-typed warehouse tables instead of BigQuery loads.

Graph shape mirrors the reference:
  open_close  : raw CSVs ─standardize+merge─→ warehouse.openclose
  info        : raw JSON ─flatten─→ warehouse.metadata
  sustainability: raw JSON ─flatten─→ warehouse.sustainability
  register    : after all loads, expose tables to spark.sql
(The tabular statements path is wired separately per sheet since its file
set is a per-ticker dict — see pipelines/tabular.py.)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fortune_500_financial_insights_pipeline_spark import warehouse as WH
from fortune_500_financial_insights_pipeline_spark.pipelines.entity_json import (
    info_pipeline,
    sustainability_pipeline,
)
from fortune_500_financial_insights_pipeline_spark.pipelines.open_close import open_close
from fortune_500_financial_insights_pipeline_spark.plans.runner import Dag


def _table_rows(spark: SparkSession, warehouse_path: str, table: str) -> int:
    """Row count of a warehouse table, re-read from its written files."""
    return spark.read.parquet(f"{warehouse_path}/{table}").count()


def _land(spark: SparkSession, df, warehouse_path: str, table: str) -> int:
    """Write ``df`` as warehouse table ``table``; a load task's output is
    the row count re-read from the written files."""
    WH.write_table(df, warehouse_path, table)
    return _table_rows(spark, warehouse_path, table)


def build_elt_dag(
    spark: SparkSession,
    kaggle_glob: str,
    api_glob: str,
    info_glob: str,
    sustainability_glob: str,
    warehouse_path: str,
    dedup: bool = True,
) -> Dag:
    dag = Dag("f500_elt")

    def load_open_close() -> int:
        df = open_close(spark, kaggle_glob, api_glob, dedup=dedup)
        return _land(spark, df, warehouse_path, "openclose")

    def load_info() -> int:
        df = info_pipeline(spark, info_glob).select(
            F.col("symbol").alias("Ticker"),
            F.col("address").alias("Address"),
            F.col("city").alias("City"),
            F.col("state").alias("State"),
            F.col("zip").alias("Zip_Code"),
            F.col("website").alias("Website"),
            F.col("industry").alias("Industry"),
            F.col("sector").alias("Sector"),
            F.current_date().alias("Date"),
        )
        return _land(spark, df, warehouse_path, "metadata")

    def load_sustainability() -> int:
        df = sustainability_pipeline(spark, sustainability_glob, with_ticker=True).select(
            "Ticker",
            F.col("peerGroup").alias("PeerGroup"),
            F.col("maxAge").alias("MaxAge"),
            F.col("totalEsg").alias("TotalESG"),
            F.col("environmentScore").alias("EnvironmentScore"),
            F.col("socialScore").alias("SocialScore"),
            F.col("governanceScore").alias("GovernanceScore"),
            F.col("ratingYear").alias("RatingYear"),
            F.col("ratingMonth").alias("RatingMonth"),
            F.col("peerCount").alias("PeerCount"),
            F.col("esgPerformance").alias("ESGPerformance"),
            F.current_date().alias("Date"),
        )
        return _land(spark, df, warehouse_path, "sustainability")

    dag.add("transform_open_close", load_open_close, retries=1)
    dag.add("transform_info", load_info, retries=1)
    dag.add("transform_sustainability", load_sustainability, retries=1)
    dag.add(
        "register_warehouse",
        lambda: WH.register(spark, warehouse_path),
        deps=["transform_open_close", "transform_info", "transform_sustainability"],
    )
    return dag


def build_api_entities_dag(
    spark: SparkSession,
    dividends_glob: str,
    recs_glob: str,
    estimates_glob: str,
    options_glob: str,
    warehouse_path: str,
    as_of: str,
) -> Dag:
    """The four ingested-only API feeds (reference Data_API_Ingestion DAG,
    ingest_data_API.py:97-128) landed as DDL-typed warehouse tables:
    dividend_history, analystreccomendations, earnings_estimates,
    options_chain. One independent task per feed (they share no inputs),
    register after all four — the same graph shape the reference's
    download_tasks >> upload fan-in has."""
    from fortune_500_financial_insights_pipeline_spark.pipelines.entity_csv import (
        analyst_recommendations,
        dividends,
        earnings_estimates,
        options_chain,
    )

    dag = Dag("f500_api_entities")

    def load_dividends() -> int:
        df = dividends(spark, dividends_glob)
        return _land(spark, df, warehouse_path, "dividend_history")

    def load_recs() -> int:
        df = analyst_recommendations(spark, recs_glob)
        df = WH.add_surrogate_key(df, ["Ticker", "Date", "Period"])
        return _land(spark, df, warehouse_path, "analystreccomendations")

    def load_estimates() -> int:
        df = earnings_estimates(spark, estimates_glob, as_of=as_of)
        df = WH.add_surrogate_key(df, ["Ticker", "Period", "Date"])
        return _land(spark, df, warehouse_path, "earnings_estimates")

    def load_options() -> int:
        df = options_chain(spark, options_glob, as_of=as_of)
        df = WH.add_surrogate_key(df, ["ContractSymbol", "Date"])
        return _land(spark, df, warehouse_path, "options_chain")

    dag.add("transform_dividends", load_dividends, retries=1)
    dag.add("transform_analyst_recs", load_recs, retries=1)
    dag.add("transform_earnings_estimates", load_estimates, retries=1)
    dag.add("transform_options_chain", load_options, retries=1)
    dag.add(
        "register_warehouse",
        lambda: WH.register(spark, warehouse_path),
        deps=[
            "transform_dividends",
            "transform_analyst_recs",
            "transform_earnings_estimates",
            "transform_options_chain",
        ],
    )
    return dag


def build_statements_dag(
    spark: SparkSession,
    sheet_files: dict[str, dict[str, str]],
    interest_items: dict[str, list[str]],
    warehouse_path: str,
) -> Dag:
    """The tabular-statements DAG (reference: transform_tabular_entities.py):
    one task per sheet, each landing a DDL-conformed warehouse table.

    ``sheet_files``: {warehouse_table: {TICKER: csv_path}} for the sheets
    that have declared DDL schemas (quarterly / balancesheet5y / cashflow5y);
    ``interest_items``: the per-sheet line-item keep lists (the reference's
    columns_interested_in, transform_job_tabular_entitities.py:117-317)."""
    from fortune_500_financial_insights_pipeline_spark.pipelines.tabular import (
        statements_wide,
        to_warehouse_columns,
    )

    dag = Dag("f500_statements")

    def load_sheet(table: str) -> int:
        wide = statements_wide(spark, sheet_files[table], interest_items[table])
        return _land(spark, to_warehouse_columns(wide), warehouse_path, table)

    for table in sheet_files:
        dag.add(f"transform_{table}", lambda t=table: load_sheet(t), retries=1)
    dag.add(
        "register_warehouse",
        lambda: WH.register(spark, warehouse_path),
        deps=[f"transform_{t}" for t in sheet_files],
    )
    return dag


def build_refresh_dag(
    spark: SparkSession,
    tickers: list[str],
    start: str,
    days: int,
    warehouse_path: str,
) -> Dag:
    """Incremental market-data refresh: the custom API DataSource feeds a
    merge-upsert into the openclose warehouse table. Re-running a window is
    idempotent (keep-latest per (Ticker, Date)); only touched year
    partitions rewrite. This is the daily-refresh loop the reference
    re-triggers whole Airflow DAGs for."""
    from fortune_500_financial_insights_pipeline_spark.sources import market_api

    dag = Dag("f500_refresh")

    def fetch_and_upsert() -> int:
        market_api.register(spark)
        feed = (
            spark.read.format("market_api")
            .option("tickers", ",".join(tickers))
            .option("start", start)
            .option("days", str(days))
            .load()
        )
        WH.upsert_table(spark, warehouse_path, "openclose", feed, keys=["Ticker", "Date"])
        return _table_rows(spark, warehouse_path, "openclose")

    dag.add("refresh_open_close", fetch_and_upsert, retries=1)
    dag.add("register_warehouse", lambda: WH.register(spark, warehouse_path),
            deps=["refresh_open_close"])
    return dag
