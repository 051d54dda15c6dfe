# -*- coding: utf-8 -*-
"""Driver-contract queries: one per operator family from SURVEY.md §2,
running on the driver's TPC-H-ish tables, each with an ANSI-SQL oracle
DuckDB can execute on the same parquet files.

Hash-safety rule: every oracle-checked output column is an INTEGER or
STRING. Floats are scaled+rounded+cast (e.g. cents, meters, 1e-6 cosine
units) so Spark/DuckDB value hashes cannot diverge on float ULPs.
Non-SQL-expressible operators (S2 cells, MinHash/SimHash, language ID,
the geocode cascade) are registered without an oracle -> rows-only check.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.geo import grid_cell_col, grid_cell_parent_col, haversine_col

EARTH_2R = "12742.0176"  # 2 * 6371.0088, spelled identically in both engines


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# derived deterministic geo columns (same formula inlined in the SQL oracles)
def _cust_points(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(49.5) + (F.col("c_custkey") % 2000) / 1000.0).alias("lat"),
        (F.lit(2.5) + ((F.col("c_custkey") * 7) % 3900) / 1000.0).alias("lon"),
    )


_CUST_POINTS_SQL = (
    "SELECT c_custkey, 49.5 + (c_custkey % 2000)/1000.0 AS lat, "
    "2.5 + ((c_custkey*7) % 3900)/1000.0 AS lon FROM customer"
)


def _supp_points(spark, sf_dir):
    return _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.lit(49.5) + ((F.col("s_suppkey") * 13) % 2000) / 1000.0).alias("lat"),
        (F.lit(2.5) + ((F.col("s_suppkey") * 29) % 3900) / 1000.0).alias("lon"),
    )


_SUPP_POINTS_SQL = (
    "SELECT s_suppkey, 49.5 + ((s_suppkey*13) % 2000)/1000.0 AS lat, "
    "2.5 + ((s_suppkey*29) % 3900)/1000.0 AS lon FROM supplier"
)


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"{EARTH_2R} * asin(sqrt("
        f"pow(sin(radians(({lat2})-({lat1}))/2),2) + "
        f"cos(radians({lat1}))*cos(radians({lat2}))*"
        f"pow(sin(radians(({lon2})-({lon1}))/2),2)))"
    )


# ---------------------------------------------------------------------------
# SQL-oracled queries
# ---------------------------------------------------------------------------


def q_top1_per_group(spark, sf_dir):
    """A1/W2 — best-per-key window with composite tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_quantity").desc(), F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
        )
    )


SQL_TOP1 = """
SELECT l_orderkey, l_linenumber, CAST(round(l_quantity*100) AS BIGINT) AS qty_c
FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
      ORDER BY l_quantity DESC, l_extendedprice DESC, l_linenumber ASC) AS rn
      FROM lineitem) WHERE rn = 1
"""


def q_anti_join(spark, sf_dir):
    """J3 — left-anti join (cascade shrink pattern)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


SQL_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_broadcast_join_agg(spark, sf_dir):
    """J1/A-partial — broadcast dim join + aggregation (map-side combine)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("rev_c"),
        )
    )


SQL_BJOIN = """
SELECT p_brand, count(*) AS n,
       CAST(round(sum(l_extendedprice*(1-l_discount))*100) AS BIGINT) AS rev_c
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


def q_left_join(spark, sf_dir):
    """J2 — left join restoring a dimension (null-preserving)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("c_name", F.lit("?")).alias("cust_name"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )


SQL_LJOIN = """
SELECT o_orderkey, o_custkey, coalesce(c_name, '?') AS cust_name,
       CAST(round(o_totalprice*100) AS BIGINT) AS price_c
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q_union_dedup(spark, sf_dir):
    """U1/A5 — schema-aligned union + dedup."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 50000).select("o_orderkey", "o_orderpriority")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey", "o_orderpriority")
    return a.unionByName(b).dropDuplicates(["o_orderkey"])


SQL_UNION = """
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 50000
UNION
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def q_coalesce_collapse(spark, sf_dir):
    """A6 — fillna-collapse (first non-null of an ordered column list)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )


SQL_COALESCE = """
SELECT coalesce(n_name, 'UNKNOWN') AS nation_name, count(*) AS n_cust
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY coalesce(n_name, 'UNKNOWN')
"""


def q_value_counts(spark, sf_dir):
    """A3 — frequency table."""
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


SQL_VCOUNTS = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def q_asof_latest(spark, sf_dir):
    """J11/W — as-of dedup: latest event per user (ties -> highest id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type")
    )


SQL_ASOF = """
SELECT user_id, event_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1
"""


def q_postcode_score(spark, sf_dir):
    """F10 as a when-chain Column expression (the checker's postcode
    compare, scaled x10 to integers)."""
    c = _t(spark, sf_dir, "customer")
    pc1 = F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0")
    pc2 = F.lpad(((F.col("c_custkey") * 7 + 13) % 10000).cast("string"), 4, "0")
    score = (
        F.when(pc1 == pc2, 10)
        .when(F.substring(pc1, 1, 2) == F.substring(pc2, 1, 2), 5)
        .when(F.substring(pc1, 1, 1) == F.substring(pc2, 1, 1), 3)
        .otherwise(0)
    )
    return c.select("c_custkey", score.alias("pc_score"))


SQL_PCSCORE = """
SELECT c_custkey,
  CASE WHEN pc1 = pc2 THEN 10
       WHEN substring(pc1,1,2) = substring(pc2,1,2) THEN 5
       WHEN substring(pc1,1,1) = substring(pc2,1,1) THEN 3
       ELSE 0 END AS pc_score
FROM (SELECT c_custkey,
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS pc1,
             lpad(CAST((c_custkey*7+13) % 10000 AS VARCHAR), 4, '0') AS pc2
      FROM customer)
"""


def q_haversine(spark, sf_dir):
    """F14 — haversine distance as Column math (meters, integer)."""
    pts = _cust_points(spark, sf_dir)
    return pts.select(
        "c_custkey",
        F.round(haversine_col(F.col("lat"), F.col("lon"), F.lit(50.8466), F.lit(4.3528)) * 1000)
        .cast("long")
        .alias("dist_m"),
    )


SQL_HAVERSINE = f"""
SELECT c_custkey,
       CAST(round(({_hav_sql('lat', 'lon', '50.8466', '4.3528')})*1000) AS BIGINT) AS dist_m
FROM ({_CUST_POINTS_SQL})
"""


def q_grid_rollup(spark, sf_dir):
    """A9 — tile rollup on integer grid cells."""
    pts = _cust_points(spark, sf_dir)
    return (
        pts.withColumn("cell", grid_cell_col(F.col("lat"), F.col("lon")))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_GRID = f"""
SELECT CAST(floor((lat+90.0)*32) AS BIGINT)*11520 + CAST(floor((lon+180.0)*32) AS BIGINT) AS cell,
       count(*) AS n
FROM ({_CUST_POINTS_SQL}) GROUP BY 1
"""


def q_grid_parent_rollup(spark, sf_dir):
    """A9 zoom-out — parent-cell rollup via integer math only."""
    base = q_grid_rollup(spark, sf_dir)
    return (
        base.withColumn("pcell", grid_cell_parent_col(F.col("cell")))
        .groupBy("pcell")
        .agg(F.sum("n").alias("n"))
    )


SQL_GRID_PARENT = f"""
SELECT CAST(floor(CAST(floor(cell/11520.0) AS BIGINT)/8.0) AS BIGINT)*1440
       + CAST(floor((cell % 11520)/8.0) AS BIGINT) AS pcell,
       CAST(sum(n) AS BIGINT) AS n
FROM ({SQL_GRID.strip()}) GROUP BY 1
"""


def q_knn_topk(spark, sf_dir):
    """J10/W4 — kNN: 3 nearest suppliers per sampled customer point.
    Tie-break on integer meters + supplier key for cross-engine determinism."""
    q = _cust_points(spark, sf_dir).filter(F.col("c_custkey") % 149 == 0)
    t = _supp_points(spark, sf_dir)
    j = q.crossJoin(
        F.broadcast(
            t.select(
                F.col("s_suppkey"), F.col("lat").alias("slat"), F.col("lon").alias("slon")
            )
        )
    ).withColumn(
        "dist_m",
        F.round(haversine_col(F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")) * 1000)
        .cast("long"),
    )
    w = Window.partitionBy("c_custkey").orderBy(F.col("dist_m").asc(), F.col("s_suppkey").asc())
    return (
        j.withColumn("knn_rank", F.row_number().over(w))
        .filter("knn_rank <= 3")
        .select("c_custkey", "s_suppkey", "knn_rank", "dist_m")
    )


SQL_KNN = f"""
WITH q AS (SELECT * FROM ({_CUST_POINTS_SQL}) WHERE c_custkey % 149 = 0),
     t AS ({_SUPP_POINTS_SQL}),
     j AS (SELECT q.c_custkey, t.s_suppkey,
             CAST(round(({_hav_sql('q.lat', 'q.lon', 't.lat', 't.lon')})*1000) AS BIGINT) AS dist_m
           FROM q CROSS JOIN t)
SELECT c_custkey, s_suppkey, knn_rank, dist_m
FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
      ORDER BY dist_m ASC, s_suppkey ASC) AS knn_rank FROM j)
WHERE knn_rank <= 3
"""


def q_dedup_exact(spark, sf_dir):
    """Dedup (exact): hash-groupBy on content, keep lowest doc_id."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text")).alias("content_md5")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups")
    )


SQL_DEDUP = """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id, count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_token_stats(spark, sf_dir):
    """Text analysis: token count + punctuation count per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), "\\s+")).alias("n_tokens"),
        F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]", "")).alias("n_punct"),
        F.length("text").alias("n_chars_actual"),
    )


SQL_TOKENS = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
       length(text) AS n_chars_actual
FROM documents
"""


def _sql_str_list(words) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(words))


def _sql_lang_quality() -> str:
    """DuckDB twin of flagship.q_lang_quality: the same stopword-argmax
    lang-ID heuristic (functions/text.py detect_lang) spelled as SQL —
    word lists imported from the canonical source so they can't drift.
    trunc() mirrors Spark's cast-to-int (toward zero); tie priority
    en > fr > nl mirrors the fixed loop order."""
    from ..functions.text import _LANG_STOPWORDS

    fr = _sql_str_list(_LANG_STOPWORDS["fr"])
    nl = _sql_str_list(_LANG_STOPWORDS["nl"])
    en = _sql_str_list(_LANG_STOPWORDS["en"])
    return rf"""
WITH w AS (
  SELECT doc_id, text, lang,
         regexp_extract_all(lower(text), '[a-zà-ÿ'']+') AS words,
         length(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents
), s AS (
  SELECT doc_id, text, lang, n_tok, length(words) AS n_words,
    CASE WHEN words IS NULL THEN 0
         ELSE length(list_filter(words, x -> x IN ({fr}))) END AS fr_n,
    CASE WHEN words IS NULL THEN 0
         ELSE length(list_filter(words, x -> x IN ({nl}))) END AS nl_n,
    CASE WHEN words IS NULL THEN 0
         ELSE length(list_filter(words, x -> x IN ({en}))) END AS en_n
  FROM w
)
SELECT doc_id,
  CASE WHEN text IS NULL OR text = '' OR n_words IS NULL OR n_words = 0 THEN 'und'
       WHEN greatest(fr_n, nl_n, en_n) = 0 THEN 'und'
       WHEN en_n >= fr_n AND en_n >= nl_n THEN 'en'
       WHEN fr_n >= nl_n THEN 'fr'
       ELSE 'nl' END AS lang_detected,
  lang,
  CAST(n_tok AS INT) AS n_tokens,
  CAST(trunc(CAST(length(text) AS DOUBLE) / greatest(n_tok, 1)) AS INT) AS avg_token_len
FROM s
"""


SQL_LANG_QUALITY = _sql_lang_quality()


def q_cosine_topk(spark, sf_dir):
    """Similarity search: brute-force cosine top-10 vs the vec_id=0 probe.
    Dot/norm computed with the same left-to-right accumulation in both
    engines; similarity scaled to 1e-4 units as integer."""
    e = _t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe"))
    j = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sim = dot(F.col("embedding"), F.col("probe")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("probe"), F.col("probe")))
    )
    scored = j.select("vec_id", F.round(sim * 10000).cast("long").alias("sim_1e4"))
    w = Window.orderBy(F.col("sim_1e4").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter("rank <= 10")


SQL_COSINE = """
WITH p AS (SELECT embedding AS probe FROM embeddings WHERE vec_id = 0),
     s AS (SELECT vec_id,
             CAST(round(10000 * list_dot_product(embedding, probe) /
               (sqrt(list_dot_product(embedding, embedding)) *
                sqrt(list_dot_product(probe, probe)))) AS BIGINT) AS sim_1e4
           FROM embeddings, p WHERE vec_id <> 0)
SELECT vec_id, sim_1e4, rank FROM
 (SELECT *, row_number() OVER (ORDER BY sim_1e4 DESC, vec_id ASC) AS rank FROM s)
WHERE rank <= 10
"""


def q_window_time_bucket(spark, sf_dir):
    """Streaming analog (batch): tumbling 1-hour window counts per type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_WINDOW_BUCKET = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour_bucket,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_range_join(spark, sf_dir):
    """Interval (range) join — events matched into NON-uniform value bands
    by BETWEEN, the J-family operator Spark has no native equi-path for.
    The interval side is tiny and broadcast, so the physical plan is a
    BroadcastNestedLoopJoin over the streamed fact side — the correct
    100 TB shape for a small interval dimension (never a cartesian
    shuffle). Integer-only outputs (counts + id extremes) keep the
    cross-engine hash float-free."""
    e = _t(spark, sf_dir, "events")
    b = spark.range(20).select(
        F.col("id").alias("band"),
        (F.col("id") * F.col("id") * 10.0).alias("lo"),
        ((F.col("id") + 1) * (F.col("id") + 1) * 10.0).alias("hi"),
    )
    j = e.join(F.broadcast(b), (e.value >= b.lo) & (e.value < b.hi), "inner")
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_eid"),
        F.max("event_id").alias("max_eid"),
    )


SQL_RANGE_JOIN = """
WITH bands AS (
  SELECT i AS band, CAST(i*i*10 AS DOUBLE) AS lo, CAST((i+1)*(i+1)*10 AS DOUBLE) AS hi
  FROM generate_series(0, 19) t(i)
)
SELECT band, count(*) AS n, min(event_id) AS min_eid, max(event_id) AS max_eid
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def q_hex_rollup(spark, sf_dir):
    """A9 on the hexagonal tiling — axial coords + cube rounding as pure
    Column math, rollup per hex cell."""
    from ..functions.geo import hex_cell_col

    pts = _cust_points(spark, sf_dir)
    return (
        pts.withColumn("cell", hex_cell_col(F.col("lat"), F.col("lon"), 0.05))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_hex_parent_rollup(spark, sf_dir):
    """F21 on the hex tiling — zoom-out by center-containment parents,
    closed-form integer/axial math (geo.hex_cell_parent_col)."""
    from ..functions.geo import hex_cell_parent_col

    base = q_hex_rollup(spark, sf_dir)
    return (
        base.withColumn("pcell", hex_cell_parent_col(F.col("cell"), 4))
        .groupBy("pcell")
        .agg(F.sum("n").cast("long").alias("n"))
    )


_FIXTURES = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "tests", "fixtures")
)


def q_h3_rollup(spark, sf_dir):
    """A9 on REAL Uber-H3 res-9 cells (functions/h3.py, bit-compatible).
    Oracle: pinned golden leaf cells (tests/fixtures, themselves gated by
    published H3 test vectors) joined to the live customer table, rollup
    in SQL — a cell-math regression breaks the value hash."""
    from ..functions.h3 import h3_cell_col

    pts = _cust_points(spark, sf_dir)
    return (
        pts.withColumn("cell", h3_cell_col(F.col("lat"), F.col("lon"), 9))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_h3_parent_rollup(spark, sf_dir):
    """F21 on H3: res-9 -> res-5 parents via pure Column bit math
    (h3_parent_col), zoom-out rollup; the oracle runs the IDENTICAL bit
    expression in DuckDB (h3_parent_sql) over the pinned leaves."""
    from ..functions.h3 import h3_parent_col

    base = q_h3_rollup(spark, sf_dir)
    return (
        base.withColumn("pcell", h3_parent_col(F.col("cell"), 5))
        .groupBy("pcell")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def q_knn_cells_grid(spark, sf_dir):
    """J10 scale path with a brute-force SQL oracle: 3 nearest supplier
    points per sampled customer point, joined once over each customer's
    block of cells within max_rings — must equal the cross-join + window
    plan (SQL_KNN_CELLS)."""
    from ..operators.spatial import knn_cells

    q = (
        _cust_points(spark, sf_dir)
        .filter(F.col("c_custkey") % 149 == 0)
        .withColumnRenamed("c_custkey", "query_id")
    )
    t = _supp_points(spark, sf_dir)
    out = knn_cells(q, t, k=3, target_id="s_suppkey", cells_per_degree=8, max_rings=40)
    return out.select(
        F.col("query_id").alias("c_custkey"),
        F.col("neighbor_id").alias("s_suppkey"),
        "knn_rank",
        F.round(F.col("dist_km") * 1000).cast("long").alias("dist_m"),
    )


def q_knn_h3(spark, sf_dir):
    """J10 on the real Uber-H3 tiling: one join over each customer's
    grid_disk, with the same brute-force SQL oracle as knn_cells_grid —
    the H3 scale path must be value-identical to the exact cross-join
    answer."""
    from ..operators.spatial import knn_h3

    q = (
        _cust_points(spark, sf_dir)
        .filter(F.col("c_custkey") % 149 == 0)
        .withColumnRenamed("c_custkey", "query_id")
    )
    t = _supp_points(spark, sf_dir)
    # res 5 / 14 rings: every target within ~136 km of a query is in its
    # disk (D_min[15] - 2 x R_max in the res-5 reach table) — the farthest
    # 3rd neighbor in the derived world is ~87 km; a target outside the
    # disk is never returned, as in knn_cells
    out = knn_h3(q, t, k=3, target_id="s_suppkey", res=5, max_rings=14)
    return out.select(
        F.col("query_id").alias("c_custkey"),
        F.col("neighbor_id").alias("s_suppkey"),
        "knn_rank",
        F.round(F.col("dist_km") * 1000).cast("long").alias("dist_m"),
    )


SQL_KNN_CELLS = f"""
WITH q AS (SELECT * FROM ({_CUST_POINTS_SQL}) WHERE c_custkey % 149 = 0),
     t AS ({_SUPP_POINTS_SQL}),
     j AS (SELECT q.c_custkey, t.s_suppkey,
             CAST(round(round(({_hav_sql('q.lat', 'q.lon', 't.lat', 't.lon')}), 9)*1000) AS BIGINT) AS dist_m,
             round(({_hav_sql('q.lat', 'q.lon', 't.lat', 't.lon')}), 9) AS dist_km
           FROM q CROSS JOIN t)
SELECT c_custkey, s_suppkey, knn_rank, dist_m
FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
      ORDER BY dist_km ASC, s_suppkey ASC) AS knn_rank FROM j)
WHERE knn_rank <= 3
"""


# axis-aligned test rectangles for the SQL-oracled PIP query. Bounds end in
# .0005 offsets so no derived point (3-decimal lat/lon) ever sits exactly on
# an edge — the ray-cast half-open rule and SQL BETWEEN then agree for free.
_PIP_RECTS = [
    # (poly_id, name, minx, miny, maxx, maxy)   x=lon, y=lat
    (1, "west_low", 2.7005, 49.7005, 4.2005, 50.4005),
    (2, "east_high", 4.2005, 50.4005, 6.0005, 51.3005),
    (3, "overlap_mid", 3.5005, 50.0005, 5.0005, 50.9005),
    (4, "empty_north", 2.6005, 51.4505, 3.0005, 51.4905),
]


def q_pip_rect(spark, sf_dir):
    """J9 with a SQL oracle: customer points against axis-aligned rectangle
    polygons through the REAL PIP operator (grid-cover cells -> broadcast
    cell join -> bbox prefilter -> exact ray-cast pandas UDF). Concave /
    holed rings are covered by the pytest truth table."""
    from ..operators.spatial import point_in_polygon_join

    pts = _cust_points(spark, sf_dir)
    rows = []
    for pid, name, x0, y0, x1, y1 in _PIP_RECTS:
        ring = [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]
        rows.append((pid, name, ring, [0, len(ring)], x0, y0, x1, y1))
    polys = spark.createDataFrame(
        rows,
        "poly_id long, name string, ring_xy array<double>, ring_offsets array<int>, "
        "bbox_minx double, bbox_miny double, bbox_maxx double, bbox_maxy double",
    )
    return point_in_polygon_join(pts, polys).select(
        "c_custkey", "poly_id", F.col("poly_name")
    )


def q_pip_rect_h3(spark, sf_dir):
    """J9 on the H3-NATIVE cover (round-4): identical semantics and
    oracle as q_pip_rect, but the candidate index is polygon_cover_cells
    (center polyfill + edge-sample disk-1 at res 4) and points key on
    their H3 cell — the path an H3-indexed polygon layer takes."""
    from ..operators.spatial import point_in_polygon_join

    pts = _cust_points(spark, sf_dir)
    rows = []
    for pid, name, x0, y0, x1, y1 in _PIP_RECTS:
        ring = [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]
        rows.append((pid, name, ring, [0, len(ring)], x0, y0, x1, y1))
    polys = spark.createDataFrame(
        rows,
        "poly_id long, name string, ring_xy array<double>, ring_offsets array<int>, "
        "bbox_minx double, bbox_miny double, bbox_maxx double, bbox_maxy double",
    )
    return point_in_polygon_join(pts, polys, cover="h3", h3_res=4).select(
        "c_custkey", "poly_id", F.col("poly_name")
    )


_PIP_RECTS_SQL = " UNION ALL ".join(
    f"SELECT {pid} AS poly_id, '{name}' AS poly_name, {x0} AS minx, {y0} AS miny, "
    f"{x1} AS maxx, {y1} AS maxy"
    for pid, name, x0, y0, x1, y1 in _PIP_RECTS
)

SQL_PIP_RECT = f"""
WITH p AS ({_CUST_POINTS_SQL}), r AS ({_PIP_RECTS_SQL})
SELECT p.c_custkey, r.poly_id, r.poly_name
FROM p JOIN r ON p.lon > r.minx AND p.lon < r.maxx AND p.lat > r.miny AND p.lat < r.maxy
"""


# word-3-shingle Jaccard for consecutive-id pairs, DuckDB list math as the
# oracle (list_distinct/list_intersect are set-semantics like Spark's
# array_distinct/array_intersect)
SQL_NGRAM_JACCARD = r"""
WITH s AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
sh AS (SELECT doc_id,
        CASE WHEN len(toks) - 2 <= 0 THEN [array_to_string(toks, ' ')]
             ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
                  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) END AS sh
       FROM s)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(round((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh)))) * 10000) AS BIGINT) AS jaccard_1e4
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


# same axial + cube-rounding math spelled in SQL (size 0.05; round() is
# HALF_UP in both engines for these non-boundary inputs)
SQL_HEX = f"""
WITH p AS ({_CUST_POINTS_SQL}),
a AS (SELECT c_custkey,
        (sqrt(3)/3 * lon - lat/3) / 0.05 AS q,
        (2.0/3.0 * lat) / 0.05 AS r
      FROM p),
b AS (SELECT *, round(q) AS rq, round(r) AS rr, round(-q - r) AS rs,
        abs(round(q) - q) AS dq, abs(round(r) - r) AS dr,
        abs(round(-q - r) + q + r) AS ds
      FROM a),
c AS (SELECT
        CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS fq,
        CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS fr
      FROM b)
SELECT (CAST(fq AS BIGINT) + 1048576) * 2097152 + (CAST(fr AS BIGINT) + 1048576) AS cell,
       count(*) AS n
FROM c GROUP BY 1
"""


# hex zoom-out: child center's axial coords on the 4x grid are exactly
# (fq/4, fr/4); same cube rounding. round() ties (.5 on exact quarters) are
# away-from-zero in BOTH engines.
SQL_HEX_PARENT = f"""
WITH base AS ({SQL_HEX.strip()}),
ax AS (SELECT n, (CAST(floor(cell/2097152.0) AS BIGINT) - 1048576)/4.0 AS q,
              ((cell % 2097152) - 1048576)/4.0 AS r
       FROM base),
b AS (SELECT *, round(q) AS rq, round(r) AS rr, round(-q - r) AS rs,
        abs(round(q) - q) AS dq, abs(round(r) - r) AS dr,
        abs(round(-q - r) + q + r) AS ds
      FROM ax),
c AS (SELECT n,
        CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END AS fq,
        CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -rq - rs ELSE rr END AS fr
      FROM b)
SELECT (CAST(fq AS BIGINT) + 1048576) * 2097152 + (CAST(fr AS BIGINT) + 1048576) AS pcell,
       CAST(sum(n) AS BIGINT) AS n
FROM c GROUP BY 1
"""


SQL_H3 = f"""
SELECT f.h3_9 AS cell, count(*) AS n
FROM customer c JOIN read_parquet('{_FIXTURES}/h3_cells_sf001.parquet') f
  USING (c_custkey)
GROUP BY 1
"""

SQL_H3_PARENT = f"""
SELECT ((f.h3_9 & {~(0xF << 52)}) | {5 << 52} | {(1 << ((15 - 5) * 3)) - 1}) AS pcell,
       count(*) AS n
FROM customer c JOIN read_parquet('{_FIXTURES}/h3_cells_sf001.parquet') f
  USING (c_custkey)
GROUP BY 1
"""

# S2 parent at level 7: lsb = 1 << (2*(30-7)); parent = (cell & ~(2*lsb-1)) | lsb
SQL_S2_ROLLUP = f"""
SELECT f.cell13 AS cell13,
       ((f.cell13 & {~(2 * (1 << 46) - 1)}) | {1 << 46}) AS cell7,
       count(*) AS n
FROM customer c JOIN read_parquet('{_FIXTURES}/s2_cells_sf001.parquet') f
  USING (c_custkey)
GROUP BY 1, 2
"""


# SimHash oracle: signatures pinned (shared numpy kernel, see
# scripts/gen_cell_fixtures.py), the band projection recomputed in SQL.
# Spark's pmod is always-positive; DuckDB's % keeps the dividend sign.
SQL_SIMHASH = f"""
SELECT d.doc_id, f.simhash,
       CAST(((f.simhash % 65536) + 65536) % 65536 AS BIGINT) AS band16
FROM documents d JOIN read_parquet('{_FIXTURES}/simhash_sf001.parquet') f
  USING (doc_id)
"""

# MinHash-LSH oracle: the banded rows are pinned (xxhash64 is
# Spark-specific), but the CANDIDATE-GENERATION semantics — the bucketed
# self-join, the id ordering, and the shared-band count — are recomputed
# in SQL. The join to documents keeps the fixture honest against the live
# table.
SQL_MINHASH = f"""
WITH b AS (
  SELECT f.doc_id AS _id, f.band, f.bhash
  FROM read_parquet('{_FIXTURES}/minhash_banded_sf001.parquet') f
  JOIN documents d USING (doc_id)
)
SELECT a._id AS id_a, c._id AS id_b, count(*) AS n_bands_shared
FROM b a JOIN b c ON a.band = c.band AND a.bhash = c.bhash AND a._id < c._id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# connected components (dup-cluster resolution)
# ---------------------------------------------------------------------------


def _component_edges(spark, sf_dir):
    """Deterministic SQL-expressible edge list over documents: two chain
    families (step -7 / step -13 over disjoint residue windows) whose
    multi-hop components exercise exactly the closure the single-hop drop
    rule gets wrong. Same relation inlined in SQL_COMPONENTS."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    f1 = d.filter((F.col("doc_id") % 100 < 30) & (F.col("doc_id") >= 7)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 7).alias("dst")
    )
    f2 = d.filter((F.col("doc_id") % 100 >= 70) & (F.col("doc_id") >= 13)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 13).alias("dst")
    )
    return f1.unionAll(f2)


def q_dedup_components(spark, sf_dir):
    """Distributed connected components (alternating large-star /
    small-star, operators/components.py) on a deterministic edge list —
    the dup-cluster closure minhash_dedup keys its keep-lowest-id rule
    on. Output: every node with its component minimum."""
    from ..operators.components import connected_components

    return connected_components(_component_edges(spark, sf_dir)).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


# Oracle: transitive closure via recursive CTE; component = min reachable
# node. Chain components here are <= ~10 nodes, so the closure is tiny.
SQL_COMPONENTS = """
WITH RECURSIVE
e AS (
  SELECT doc_id AS u, doc_id - 7 AS v FROM documents
   WHERE doc_id % 100 < 30 AND doc_id >= 7
  UNION ALL
  SELECT doc_id AS u, doc_id - 13 AS v FROM documents
   WHERE doc_id % 100 >= 70 AND doc_id >= 13
),
sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
reach(node, r) AS (
  SELECT DISTINCT u AS node, u AS r FROM sym
  UNION
  SELECT s.v AS node, reach.r FROM reach JOIN sym s ON s.u = reach.node
)
SELECT CAST(node AS BIGINT) AS node, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""
