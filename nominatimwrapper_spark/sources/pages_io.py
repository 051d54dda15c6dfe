# -*- coding: utf-8 -*-
"""Partitioned pages source/sink (Iceberg-style layout on plain parquet).

The 100 TB input is organized by crawl date — `crawl_date=YYYY-MM-DD/`
partitions derived from warc_ts. Readers that filter on crawl_date get
PARTITION PRUNING (only matching directories scanned) plus parquet
predicate pushdown inside them; tests/test_pages_io.py asserts both on
the physical plan. This is the §4 'partition pruning' row: the engine
relies on Catalyst, it only has to lay the data out correctly.

(A real Iceberg catalog adds snapshots/manifests on top; the sandbox has
no Iceberg runtime, so the layout + checkpoint manifests (checkpoint.py)
stand in — same pruning behavior, same reader code.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the page columns, in the order write_pages_partitioned writes the
# flagship pages; the layout adds crawl_date, the pages stream reads these
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, lang string, text string"


def write_pages_partitioned(pages: DataFrame, path: str, mode: str = "overwrite") -> None:
    """pages(url, warc_ts, html, text, lang) -> parquet partitioned by
    crawl_date (derived from warc_ts)."""
    (
        pages.withColumn("crawl_date", F.to_date(F.col("warc_ts")))
        .write.mode(mode)
        .partitionBy("crawl_date")
        .parquet(path)
    )


def read_pages(
    spark: SparkSession,
    path: str,
    date_from: str | None = None,
    date_to: str | None = None,
) -> DataFrame:
    """Read the partitioned pages table; date bounds become partition
    filters (pruned at planning time, never scanned). The declared schema
    spares the footer-inference job every read would run."""
    df = spark.read.schema(f"{PAGES_SCHEMA}, crawl_date date").parquet(path)
    if date_from:
        df = df.filter(F.col("crawl_date") >= F.lit(date_from))
    if date_to:
        df = df.filter(F.col("crawl_date") <= F.lit(date_to))
    return df
