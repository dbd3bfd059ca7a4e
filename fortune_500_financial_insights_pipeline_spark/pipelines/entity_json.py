"""Company-info and ESG JSON pipelines: glob scan → schema'd parse → flatten
→ sink. Replaces the reference's per-file Dataproc job submission loop
(/root/reference/code/airflow/dags/transform_json_INFO.py:61-95 — one cluster
job per JSON file!) with a single job whose scan lists the prefix itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fortune_500_financial_insights_pipeline_spark.operators.json_flatten import (
    flatten_info,
    flatten_sustainability,
    read_info_json,
    read_sustainability_json,
)


def info_pipeline(spark: SparkSession, glob: str) -> DataFrame:
    return flatten_info(read_info_json(spark, glob))


def sustainability_pipeline(
    spark: SparkSession, glob: str, with_ticker: bool = False
) -> DataFrame:
    """ESG flatten; ``with_ticker`` derives Ticker from the file name
    (``AAPL.json`` → AAPL), the way the reference passes the ticker as a
    per-file job argument (transform_json_SUSTAINABLITY.py:75)."""
    raw = read_sustainability_json(spark, glob)
    if with_ticker:
        raw = raw.withColumn(
            "Ticker",
            F.upper(F.regexp_extract(F.input_file_name(), r"([^/]+?)\.json$", 1)),
        )
        return flatten_sustainability(raw, keep=["Ticker"])
    return flatten_sustainability(raw)
