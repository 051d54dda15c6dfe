# -*- coding: utf-8 -*-
"""Flagship pipeline + rows-only (non-SQL-expressible) driver queries.

The flagship builds Common-Crawl-style pages FROM the driver's documents
table (deterministic address injection keyed on doc_id against the synth
gazetteer), then runs the full engine lifecycle:

    documents -> html pages -> extract_text (frozen) -> extract addresses
    -> geocode -> S2 level-13 / H3 res-9 cells -> tiled output

Page construction and text extraction are distributed Column ops/pandas
UDFs — the only driver-side piece is the (small, broadcastable) synthetic
gazetteer.

geocode_and_tile is the batch core every entry point shares: one page
front, one engine chosen by the gazetteer broadcast gate (the partition-local
kernel, operators/geocode_kernel.py, under it; the shuffle-join cascade,
operators/geocode.py, above it) and one tiler, geocode_kernel's.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions import s2
from ..functions.text import detect_lang_udf, extract_text_udf
from ..operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_udf,
)
from ..operators.geocode import GazetteerIndex, build_gazetteer_index, cascade
from ..operators.geocode_kernel import geocode_and_tile_kernel, tile_results
from ..operators.pages import pages_to_addresses
from ..operators.spatial import latest_snapshot

# NB: scaling measurements on this shared sandbox host require the in-run
# load sampling in scripts/scaling.py — see BENCH.md methodology.


@functools.cache
def world_dir() -> str:
    """The synth world's parquet dir (120 streets x 6 houses), generated
    once per process and removed at exit."""
    from ..synth import gen_world, write_world

    d = tempfile.mkdtemp(prefix="nwspark_world_")
    write_world(d, gen_world(n_streets=120, houses_per_street=6, n_pages=10, n_per_class=2))
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


_HOUSE_COLS = ["name_fr", "house_number", "post_code", "city"]


@functools.cache
def _world_houses() -> pd.DataFrame:
    """The world's houses in place_id order with their page fields, read
    with pandas (the world is a local dir this process wrote), numbered
    0..n-1 in ``_hidx``."""
    g = pd.read_parquet(
        f"{world_dir()}/gazetteer.parquet",
        columns=["place_id", "place_rank", *_HOUSE_COLS],
    )
    h = g[g.place_rank == 30].sort_values("place_id")[_HOUSE_COLS].reset_index(drop=True)
    return h.assign(_hidx=np.arange(len(h), dtype=np.int32))


_DOCS_SCHEMA = "doc_id long, text string, lang string"

_INDEX_CACHE: dict[tuple, GazetteerIndex] = {}


def gazetteer_index(spark: SparkSession, force_no_broadcast: bool = False) -> GazetteerIndex:
    """``force_no_broadcast`` builds the index with a zero broadcast budget
    — the shuffle-join cascade regime a several-GB planet-scale gazetteer
    hits (bench leg; correctness is identical, tested in
    test_non_broadcast_path_same_results)."""
    key = (id(spark), force_no_broadcast)
    if key not in _INDEX_CACHE:
        gaz = spark.read.parquet(f"{world_dir()}/gazetteer.parquet")
        _INDEX_CACHE[key] = build_gazetteer_index(
            gaz, broadcast_max_bytes=0 if force_no_broadcast else 800 * 1024 * 1024
        )
    return _INDEX_CACHE[key]


def pages_from_documents(
    spark: SparkSession, sf_dir: str, replicate: int = 1, skew_hot: float = 0.0
) -> DataFrame:
    """Build a pages(url, warc_ts, html, text, lang) table from the driver's
    documents table, injecting one deterministic gazetteer address per doc.
    Everything distributed: the join side is the broadcast house list.
    ``replicate`` fans each document into N distinct pages (distributed
    explode — used by the bench to measure throughput where data, not
    per-stage overhead, dominates). ``skew_hot`` routes that fraction of
    documents to ONE house (the hot-city crawl regime, SURVEY §7 hard-part
    5) — deterministic via doc_id buckets."""
    # the declared schema of the columns used: inferring it is a Spark job
    docs = spark.read.schema(_DOCS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")
    # the documents file is a single small parquet -> ONE input partition;
    # spread it across the session's shuffle-partition count BEFORE the
    # explode and the heavy UDFs, else the fan-out + html build + extraction
    # all run in a single task no matter how many cores exist.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = docs.repartition(n_part, "doc_id")
    if replicate > 1:
        docs = docs.withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).withColumn(
            "doc_id", F.col("doc_id") * replicate + F.col("_rep")
        ).drop("_rep")
    # the synthetic world has a few hundred houses (664): a local frame,
    # read once per process, numbered in place_id order and broadcast
    hdf = _world_houses()
    n_houses = len(hdf)
    houses = spark.createDataFrame(
        hdf, StructType([StructField(c, StringType()) for c in _HOUSE_COLS]
                        + [StructField("_hidx", IntegerType(), False)])
    )

    hidx = (F.col("doc_id") % n_houses).cast("int")
    if skew_hot > 0.0:
        hidx = F.when(
            F.pmod(F.col("doc_id"), F.lit(1000)) < int(skew_hot * 1000), F.lit(0)
        ).otherwise(hidx)
    docs = docs.withColumn("_hidx", hidx)
    j = docs.join(F.broadcast(houses), on="_hidx", how="inner")

    body = F.concat(
        F.lit("<html><head><title>doc</title></head><body><p>"),
        F.col("text"),
        F.lit("</p><p>Adresse: "),
        F.col("name_fr"), F.lit(" "), F.col("house_number"),
        F.lit(", "), F.col("post_code"), F.lit(" "), F.col("city"),
        F.lit("</p></body></html>"),
    )
    pages = j.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit("2025-03-01 00:00:00").cast("timestamp") + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        F.encode(body, "utf-8").alias("html"),
        F.col("lang"),
    )
    return pages.withColumn("text", extract_text_udf(F.col("html")))


_FLAGSHIP_CACHE: dict[tuple, DataFrame] = {}


def flagship_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized flagship result, computed once per (session, sf_dir) —
    several rows-only driver queries consume it."""
    key = (id(spark), sf_dir)
    if key not in _FLAGSHIP_CACHE:
        _FLAGSHIP_CACHE[key] = flagship(spark, sf_dir).localCheckpoint(eager=True)
    return _FLAGSHIP_CACHE[key]


def geocode_and_tile(
    pages: DataFrame,
    index,
    dedup_crawls: bool = True,
    validate_unique: bool = True,
) -> DataFrame:
    """pages -> extract -> geocode -> S2 level-13 / H3 res-9 cells: the ONE
    shared batch core behind flagship(), jobs/geocode_job.geocode_partition
    and streaming/geocode_stream.geocode_micro_batch.

    Both regimes share the page front: one hash exchange on ``url`` of the
    three columns extraction reads, sized by AQE (about 1 MB of pages or
    more per Python task; no partition count, so no peek at plan build).
    ``dedup_crawls`` keeps each url's latest crawl on it. Without it,
    ``validate_unique`` raises ValueError("duplicate addr_key values in
    input") for any url crawled twice, before any geocoding (``addr_key``
    is ``url#pos``). The engine is the only fork: under the broadcast gate
    the partition-local kernel (operators/geocode_kernel.py) extracts,
    geocodes and tiles in one mapInPandas stage, and building its plan
    runs no Spark job once the index's payload broadcast exists; above it
    operators/geocode.cascade runs the same ladder per locality group with
    shuffle joins, and geocode_kernel.tile_results tiles its rows with the
    kernel's tiler. Both give the same schema, values and dtypes."""
    pages = pages.select("url", "warc_ts", "html").repartition("url")
    if dedup_crawls:
        pages = latest_snapshot(pages, "url", "warc_ts")
    elif validate_unique and not (
        pages.groupBy("url").count().filter("count > 1").isEmpty()
    ):
        raise ValueError("duplicate addr_key values in input")
    if index.broadcast_ok:
        return geocode_and_tile_kernel(pages, index)
    res, _ = cascade(
        pages_to_addresses(pages, dedup_crawls=False), index, with_rejected=False,
        validate_unique=False, with_extra_house_number=False,
    )
    return tile_results(res)


def flagship(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = 1,
    force_no_broadcast: bool = False,
    skew_hot: float = 0.0,
) -> DataFrame:
    """documents -> pages -> extract -> geocode -> S2 cells. Returns the
    geocoded point table (one row per injected address).

    ``force_no_broadcast`` runs the shuffle-join cascade (the regime a
    gazetteer above the 800 MB broadcast gate hits at planet scale)
    instead of the one-stage kernel;
    ``skew_hot`` concentrates that fraction of pages on one address (the
    hot-city regime — the bench compares its wall against the uniform
    leg)."""
    pages = pages_from_documents(spark, sf_dir, replicate=replicate, skew_hot=skew_hot)
    # dedup_crawls=False: doc://<id> urls are unique BY CONSTRUCTION, so
    # the as-of window (a sort of every page WITH its html payload) would
    # be a no-op. Real crawl inputs (recrawls present) pay it; the
    # operator is oracle-checked (asof_latest) and exercised on the synth
    # dup-bearing pages table in tests.
    # validate_unique=False: addr_key = url#pos is unique by construction ->
    # skip the guard job.
    return geocode_and_tile(
        pages, gazetteer_index(spark, force_no_broadcast=force_no_broadcast),
        dedup_crawls=False, validate_unique=False,
    )


# ---------------------------------------------------------------------------
# rows-only queries (no ANSI-SQL equivalent)
# ---------------------------------------------------------------------------


def q_geocode_flagship(spark, sf_dir):
    """The full engine lifecycle (SURVEY.md §3.4) — rows-only check."""
    return flagship_cached(spark, sf_dir)


def q_geocode_kernel(spark, sf_dir):
    """The same lifecycle through the partition-local one-stage kernel
    (operators/geocode_kernel.py) — rows-only driver check; value-identity
    vs the distributed cascade is asserted per-fixture-class in
    tests/test_geocode_kernel.py."""
    pages = pages_from_documents(spark, sf_dir)
    return geocode_and_tile_kernel(pages, gazetteer_index(spark))


def q_s2_rollup(spark, sf_dir):
    """F19 + A9: S2 level-13 cells of derived customer points, rolled up,
    plus the level-7 parent via pure bit math."""
    from .driver_queries import _cust_points

    pts = _cust_points(spark, sf_dir).withColumn(
        "cell13", s2.s2_cell_udf(13)(F.col("lat"), F.col("lon"))
    )
    base = pts.groupBy("cell13").agg(F.count(F.lit(1)).alias("n"))
    return base.withColumn("cell7", s2.s2_parent_col(F.col("cell13"), 7)).select(
        "cell13", "cell7", "n"
    )


def q_lang_quality(spark, sf_dir):
    """Language-ID heuristic + quality flags per document (UDF path)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    return d.select(
        "doc_id",
        detect_lang_udf(F.col("text")).alias("lang_detected"),
        "lang",
        toks.alias("n_tokens"),
        (F.length("text") / F.greatest(toks, F.lit(1))).cast("int").alias("avg_token_len"),
    )


def q_simhash_near_dups(spark, sf_dir):
    """SimHash signatures + 16-bit band bucketing for near-dup candidates."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = simhash_udf()
    sig = d.select("doc_id", sh(F.col("text")).alias("simhash"))
    return sig.select(
        "doc_id", "simhash",
        F.pmod(F.col("simhash"), F.lit(65536)).cast("long").alias("band16"),
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs over documents. The small test parquet
    is a single file (= 1 input partition), so fan out before the
    shingle/signature work; a real corpus arrives pre-partitioned."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return minhash_lsh_candidates(d, "doc_id", "text", num_hashes=32, bands=8)


def q_ngram_jaccard(spark, sf_dir):
    """Word-3-shingle Jaccard for consecutive-id pairs (integer 1e-4)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3)


# (J9/J10 driver queries now run with SQL oracles over derived points —
# driver_queries.q_pip_rect / q_knn_cells_grid; the flagship-world PIP and
# gazetteer kNN paths stay covered by tests/test_spatial_pages.py.)


def documents_scaled(spark: SparkSession, sf_dir: str, factor: int = 200) -> DataFrame:
    """~``factor`` x the sf documents corpus with genuinely DISTINCT text
    per replica: replica r of doc i = left half of doc i + right half of
    doc (i+r) mod N (pure Column ops; the partner side broadcasts).

    Verbatim replication would make every replica an exact dup and blow
    the LSH candidate-pair count up quadratically — remixing two
    documents yields new shingle sets at a realistic near-dup rate, so
    the scaled dedup bench legs measure signature + banded-join
    throughput, not a degenerate all-pairs explosion."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stats = d.agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    n = int(stats["n"])
    if not (int(stats["lo"] or 0) == 0 and int(stats["hi"] or -1) == n - 1):
        # the (_idx + _r) % n partner-ring needs DENSE 0..N-1 ids — a
        # gappy id space would silently drop replicas at the inner join
        # (and skew the reported docs/s denominator). Derive a dense
        # index once; the global window only runs on gappy inputs and
        # this is bench-corpus synthesis, not a production operator.
        from pyspark.sql import Window

        d = d.withColumn(
            "_idx", F.row_number().over(Window.orderBy("doc_id")) - 1
        )
    else:
        d = d.withColumn("_idx", F.col("doc_id"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    reps = (
        d.repartition(n_part, "doc_id")
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .withColumn("_partner", (F.col("_idx") + F.col("_r")) % F.lit(n))
    )
    partner = d.select(F.col("_idx").alias("_pid"), F.col("text").alias("_ptext"))
    return (
        reps.join(F.broadcast(partner), F.col("_partner") == F.col("_pid"))
        .select(
            (F.col("_idx") * factor + F.col("_r")).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.expr("substring(text, 1, int(length(text) / 2))"),
                    F.expr("substring(_ptext, int(length(_ptext) / 2) + 1)"),
                )
            )
            .alias("text"),
        )
    )


def embeddings_scaled(spark: SparkSession, sf_dir: str, factor: int = 200) -> DataFrame:
    """~``factor`` x the sf embeddings table; each replica is perturbed
    component-wise (deterministic sin ripple, Column math) so replicas
    are distinct vectors rather than exact copies."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        e.repartition(n_part, "vec_id")
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .select(
            (F.col("vec_id") * factor + F.col("_r")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + (F.sin((F.col("_r") + F.lit(1)) * (i + F.lit(1))) * F.lit(0.01)).cast(
                    "float"
                ),
            ).alias("embedding"),
            "label",
        )
    )
