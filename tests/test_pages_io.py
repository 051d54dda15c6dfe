# -*- coding: utf-8 -*-
"""Partitioned pages layout: partition pruning must appear in the plan."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nominatimwrapper_spark.sources.pages_io import read_pages, write_pages_partitioned
from nominatimwrapper_spark.synth import gen_world, write_world


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages_part")
    w = gen_world(n_streets=30, houses_per_street=4, n_pages=120, n_per_class=1)
    src = tmp_path_factory.mktemp("world_src")
    write_world(str(src), w)
    pages = spark.read.parquet(f"{src}/pages.parquet")
    out = str(d / "pages")
    write_pages_partitioned(pages, out)
    return out, w


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_roundtrip_and_date_filter(spark, pages_dir):
    path, w = pages_dir
    allp = read_pages(spark, path)
    assert allp.count() == len(w["pages"])
    # date window returns exactly the matching rows
    sub = read_pages(spark, path, date_from="2025-03-10", date_to="2025-03-12").toPandas()
    exp = w["pages"][
        (w["pages"].warc_ts.dt.date.astype(str) >= "2025-03-10")
        & (w["pages"].warc_ts.dt.date.astype(str) <= "2025-03-12")
    ]
    assert len(sub) == len(exp)


def test_partition_pruning_in_plan(spark, pages_dir):
    path, _ = pages_dir
    df = read_pages(spark, path, date_from="2025-03-10", date_to="2025-03-10").select("url")
    plan = _plan(df)
    # planner reports the partition filter and a pruned partition count
    assert "PartitionFilters" in plan and "crawl_date" in plan
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "crawl_date" in pf_line and "isnotnull" in pf_line.lower() or ">=" in pf_line
    # and the html/text columns are pruned from the scan entirely
    rs = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "html" not in rs and "text" not in rs


def test_read_pages_plan_starts_no_job(spark, tmp_path):
    """Building a reader's plan runs no Spark job: the schema is declared,
    not inferred from a footer (1 job per read when it was). On the
    flagship pages layout the schema and rows are the inferred reader's."""
    from nominatimwrapper_spark.plans.flagship import pages_from_documents

    path = str(tmp_path / "pages")
    write_pages_partitioned(pages_from_documents(spark, "/root/testdata/sf0.001"), path)
    sc = spark.sparkContext
    group = "read-pages-plan"
    sc.setJobGroup(group, group)
    try:
        df = read_pages(spark, path, date_from="2025-03-01")
        df._jdf.queryExecution().executedPlan()
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 0
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    got = df.toPandas().sort_values("url").reset_index(drop=True)
    exp = inferred.toPandas().sort_values("url").reset_index(drop=True)
    assert len(got) == 500
    pd.testing.assert_frame_equal(got, exp)


def test_geocode_partition_reads_only_its_date(spark, pages_dir, tmp_path):
    """geocode_partition opens its own crawl_date directory: on a layout
    with more than 32 dates (which Spark lists with a job when a reader
    opens the table root) building one partition's plan starts no Spark
    job, and its rows are those of the root reader pruned to that date."""
    from nominatimwrapper_spark.jobs.geocode_job import geocode_partition, list_crawl_dates
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index
    from nominatimwrapper_spark.plans.flagship import geocode_and_tile

    path, w = pages_dir
    assert len(list_crawl_dates(path)) > 32
    part = str(w["pages"].warc_ts.dt.date.value_counts().idxmax())
    write_world(str(tmp_path), {"gazetteer": w["gazetteer"]})
    index = build_gazetteer_index(spark.read.parquet(f"{tmp_path}/gazetteer.parquet"))
    geocode_partition(spark, path, part, index)  # builds the kernel's broadcast payload
    sc = spark.sparkContext
    group = "geocode-partition-plan"
    sc.setJobGroup(group, group)
    try:
        df = geocode_partition(spark, path, part, index)
        df._jdf.queryExecution().executedPlan()
        n = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 0

    def rows(d) -> pd.DataFrame:
        return d.toPandas().sort_values("addr_key").reset_index(drop=True)

    exp = rows(geocode_and_tile(read_pages(spark, path, date_from=part, date_to=part), index))
    assert len(exp) > 0
    pd.testing.assert_frame_equal(rows(df), exp)
