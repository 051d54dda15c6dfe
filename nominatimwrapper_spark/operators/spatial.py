# -*- coding: utf-8 -*-
"""Spatial-join + tiling operators (the north_rule extensions — SURVEY.md
J9 point-in-polygon, J10 kNN, A9 tile rollups).

Scale design notes
------------------
- PIP: polygons are the SMALL side. Each polygon explodes into its grid
  cover cells (driver-enumerable integer ranges from the bbox — no region
  coverer needed); points compute their cell as a pure Column expression.
  The join is a broadcast equi-join on cell, then a bbox Column prefilter,
  and only the survivors pay the exact ray-cast pandas UDF. At 100 TB the
  expensive UDF therefore touches ~(points near any polygon edge cell)
  rows, not all points.
- kNN: ``knn_bruteforce`` (cross-join; ORACLE-able in ANSI SQL, used as
  the correctness reference) and the in-reach pass over grid cells
  (``knn_cells``) or H3 cells (``knn_h3``): each query row expands to
  every cell within ``max_rings`` of its own, that frame joins the
  targets once on the cell key, and one window keeps the top k. The
  answer is the k nearest targets within ``max_rings``; the cost is
  O(queries x targets within max_rings), whatever k is.
- Rollups: ``multi_zoom_rollup`` tags each point with its finest cell
  once, emits one (zoom, cell) row per level and counts them in ONE
  groupBy. A hot cell needs no salting: the plan's partial aggregation
  sends at most one row per (cell, zoom) and map task to the shuffle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, LongType

from ..functions.geo import grid_cell_col, haversine_col
from .geocode import _avg_row_bytes

# ---------------------------------------------------------------------------
# point-in-polygon (J9)
# ---------------------------------------------------------------------------


def _cover_cells_udf(cells_per_degree: int):
    @pandas_udf(ArrayType(LongType()))
    def _cover(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        out = []
        w = 360 * cells_per_degree
        for x0, y0, x1, y1 in zip(minx, miny, maxx, maxy):
            ix0 = math.floor((x0 + 180.0) * cells_per_degree)
            ix1 = math.floor((x1 + 180.0) * cells_per_degree)
            iy0 = math.floor((y0 + 90.0) * cells_per_degree)
            iy1 = math.floor((y1 + 90.0) * cells_per_degree)
            out.append(
                [iy * w + ix for iy in range(iy0, iy1 + 1) for ix in range(ix0, ix1 + 1)]
            )
        return pd.Series(out)

    return _cover


@pandas_udf(BooleanType())
def _ray_cast_udf(
    lon: pd.Series, lat: pd.Series, ring_xy: pd.Series, ring_offsets: pd.Series
) -> pd.Series:
    """Even-odd ray casting over packed coordinate arrays. Multiple rings
    (holes) compose naturally under the even-odd rule. Half-open y-range
    test => points exactly on a horizontal edge resolve deterministically."""
    res = np.zeros(len(lon), dtype=bool)
    for n, (px, py, xy, offs) in enumerate(zip(lon.to_numpy(), lat.to_numpy(), ring_xy, ring_offsets)):
        xy = np.asarray(xy, dtype=np.float64)
        inside = False
        offs = list(offs)
        for ri in range(len(offs) - 1):
            ring = xy[offs[ri] : offs[ri + 1]]
            xs = ring[0::2]
            ys = ring[1::2]
            x2 = np.roll(xs, -1)
            y2 = np.roll(ys, -1)
            # edges straddling the horizontal line through py (half-open)
            straddle = (ys > py) != (y2 > py)
            if straddle.any():
                xi = xs[straddle] + (py - ys[straddle]) / (y2[straddle] - ys[straddle]) * (
                    x2[straddle] - xs[straddle]
                )
                inside ^= bool(np.count_nonzero(xi > px) & 1)
        res[n] = inside
    return pd.Series(res)


def _h3_cover_udf(res: int):
    @pandas_udf(ArrayType(LongType()))
    def _cover(ring_xy: pd.Series, ring_offsets: pd.Series) -> pd.Series:
        from ..functions.h3 import polygon_cover_cells

        out = []
        for xy, offs in zip(ring_xy, ring_offsets):
            cells = polygon_cover_cells(
                np.asarray(xy, dtype=np.float64), res, ring_offsets=list(offs)
            )
            out.append(cells.astype(np.int64).tolist())
        return pd.Series(out)

    return _cover


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cells_per_degree: int = 32,
    cover: str = "grid",
    h3_res: int = 7,
) -> DataFrame:
    """Assign each point to the polygon(s) containing it (inner join: a
    point in no polygon is dropped, a point in several appears once per
    polygon).

    points: any DataFrame with lat/lon columns.
    polygons: (poly_id, name, ring_xy, ring_offsets, bbox_*) per FIXTURES.md §4.
    Returns points columns + (poly_id, poly_name).

    ``cover`` picks the candidate tiling: ``'grid'`` (planar integer
    lat/lon cells from the bbox, ``cells_per_degree``) or ``'h3'`` — the
    H3-native cover via ``polygon_cover_cells`` (center polyfill +
    edge-sample disk-1, a provable intersect superset at ``h3_res``), so
    H3-indexed polygon layers join points without a second tiling.
    Either way the exact even-odd ray cast decides; the cover only bounds
    who pays it.
    """
    if cover == "h3":
        from ..functions.h3 import h3_cell_col

        cover_cells = _h3_cover_udf(h3_res)(F.col("ring_xy"), F.col("ring_offsets"))
        pt_cell = h3_cell_col(F.col(lat_col), F.col(lon_col), h3_res)
    else:
        cover_cells = _cover_cells_udf(cells_per_degree)(
            F.col("bbox_minx"), F.col("bbox_miny"), F.col("bbox_maxx"), F.col("bbox_maxy")
        )
        pt_cell = grid_cell_col(F.col(lat_col), F.col(lon_col), cells_per_degree)

    poly_cells = polygons.withColumn("cell", F.explode(cover_cells)).select(
        "cell",
        F.col("poly_id"),
        F.col("name").alias("poly_name"),
        "ring_xy", "ring_offsets", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy",
    )

    pts = points.withColumn("cell", pt_cell)

    joined = pts.join(F.broadcast(poly_cells), on="cell", how="inner").filter(
        (F.col(lon_col) >= F.col("bbox_minx"))
        & (F.col(lon_col) <= F.col("bbox_maxx"))
        & (F.col(lat_col) >= F.col("bbox_miny"))
        & (F.col(lat_col) <= F.col("bbox_maxy"))
    )
    return joined.filter(
        _ray_cast_udf(F.col(lon_col), F.col(lat_col), F.col("ring_xy"), F.col("ring_offsets"))
    ).drop("ring_xy", "ring_offsets", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy", "cell")


# ---------------------------------------------------------------------------
# kNN (J10)
# ---------------------------------------------------------------------------


def knn_bruteforce(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    target_id: str = "place_id",
) -> DataFrame:
    """Exact kNN via broadcast cross join + window top-k. The correctness
    oracle for knn_cells; also ANSI-SQL-expressible for the DuckDB gate.
    Deterministic tie-break on (dist, target_id)."""
    t = F.broadcast(
        targets.select(
            F.col(target_id).alias("_tid"),
            F.col("lat").alias("_tlat"),
            F.col("lon").alias("_tlon"),
        )
    )
    j = queries.crossJoin(t).withColumn(
        "dist_km",
        F.round(haversine_col(F.col("lat"), F.col("lon"), F.col("_tlat"), F.col("_tlon")), 9),
    ).drop("_tlat", "_tlon")
    return _top_k(j, k, query_id)


def knn_cells(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    target_id: str = "place_id",
    cells_per_degree: int = 32,
    max_rings: int = 8,
    broadcast_max_bytes: int = 800 * 1024 * 1024,
) -> DataFrame:
    """Scale-path kNN over grid cells (SURVEY.md J10/W4).

    IN-REACH contract: the result is each query's k nearest targets among
    those whose cell lies within ``max_rings`` cells (Chebyshev distance)
    of the query's own cell, ranked by (dist_km, target id) exactly like
    ``knn_bruteforce``. A query with fewer than k targets in reach gets
    the ones it has; a target beyond ``max_rings`` is never returned.

    One pass: every query row expands to its (2*max_rings+1)^2 block of
    cells, the block joins the targets once on the cell key, and one
    window keeps the top k. The cost is O(queries x targets within
    max_rings), whatever k is — a dense target layer pays for every
    in-reach target, not just the nearest few.

    The target projection broadcasts only under the byte gate
    (``broadcast_max_bytes``); above it the join degrades to a shuffle
    hash join on the cell key instead of OOMing on a planet-scale
    target corpus (``broadcast_max_bytes=0`` forces that regime for any
    non-empty target set).
    """
    cell = grid_cell_col(F.col("lat"), F.col("lon"), cells_per_degree)
    offs = F.sequence(F.lit(-max_rings), F.lit(max_rings))
    block = (
        queries.withColumn("_qcell", cell)
        .withColumn("_dy", F.explode(offs))
        .withColumn("_dx", F.explode(offs))
        .withColumn("_cell", F.col("_qcell") + F.col("_dy") * (360 * cells_per_degree) + F.col("_dx"))
        .drop("_qcell", "_dy", "_dx")
    )
    return _knn_in_reach(block, targets, cell, k, query_id, target_id, broadcast_max_bytes)


def knn_h3(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    target_id: str = "place_id",
    res: int = 7,
    max_rings: int = 8,
    max_query_cells: int = 50_000,
    broadcast_max_bytes: int = 800 * 1024 * 1024,
) -> DataFrame:
    """kNN on the real Uber-H3 tiling (J10/W4), in the one pass it shares
    with ``knn_cells``.

    IN-REACH contract: the result is each query's k nearest targets among
    those whose res-``res`` cell lies within ``max_rings`` grid steps
    (``grid_disk``) of the query's cell, ranked by (dist_km, target id)
    exactly like ``knn_bruteforce`` — no distance bound is involved, so
    pentagons and face seams need no calibration. The cost is
    O(queries x targets within max_rings), whatever k is.

    Scale shape:
    - ``grid_disk(query cell, max_rings)`` is built once on the driver
      for the distinct query cells and broadcast as a (query cell, cell)
      frame; the query side is the small side by contract;
    - the target side has ``knn_cells``' byte gate (``broadcast_max_bytes``);
    - ``max_query_cells`` bounds the driver-side disks: above it the
      call raises ValueError (pick a coarser ``res``, or ``knn_cells``).
    """
    from ..functions.h3 import grid_disk, h3_cell_col

    if max_rings < 1 or max_rings > 15:
        raise ValueError("knn_h3: max_rings must be in 1..15")

    cell = h3_cell_col(F.col("lat"), F.col("lon"), res)
    q = queries.withColumn("_qcell", cell)
    qcells = [r[0] for r in q.select("_qcell").distinct().limit(max_query_cells + 1).collect()]
    if len(qcells) > max_query_cells:
        raise ValueError(
            f"knn_h3: > {max_query_cells} distinct query cells; use a coarser res or knn_cells"
        )

    disks = grid_disk(np.array(qcells, dtype=np.uint64), max_rings)
    disk_map = queries.sparkSession.createDataFrame(
        pd.DataFrame(
            [(c, s) for c, disk in zip(qcells, disks) for s in disk],
            columns=["_qcell", "_cell"], dtype="int64",
        ),
        "_qcell long, _cell long",
    )
    disk_rows = q.join(F.broadcast(disk_map), on="_qcell", how="inner").drop("_qcell")
    return _knn_in_reach(disk_rows, targets, cell, k, query_id, target_id, broadcast_max_bytes)


def _knn_in_reach(
    q: DataFrame, targets: DataFrame, tcell: Column, k: int, query_id: str, target_id: str,
    broadcast_max_bytes: int,
) -> DataFrame:
    """The one pass of ``knn_cells`` and ``knn_h3``: ``q`` holds a row per
    (query, in-reach cell ``_cell``); it joins the targets whose cell
    (``tcell``) matches, every pair is scored, and each query keeps its
    top k by (dist_km, target id)."""
    # the NARROW target projection (id, lat, lon, cell) is cached: the
    # byte gate's count and the join both read it, so the corpus scan and
    # the cell tagging run once
    t = targets.select(
        F.col(target_id).alias("_tid"),
        F.col("lat").alias("_tlat"),
        F.col("lon").alias("_tlon"),
        tcell.alias("_tcell"),
    ).cache()
    try:
        # the cascade's byte gate (geocode.build_gazetteer_index): above
        # the budget a planet-scale POI corpus degrades to a shuffle join
        # on the cell key instead of OOMing the executors
        no_bc = t.count() * _avg_row_bytes(t) > broadcast_max_bytes
        # materialized so the cached projection can be dropped on return —
        # repeated kNN calls would otherwise accrete executor storage for
        # the app lifetime
        return _top_k(_knn_target_join(q, t, no_bc), k, query_id).localCheckpoint(eager=True)
    finally:
        t.unpersist(blocking=True)


def _top_k(scored: DataFrame, k: int, query_id: str) -> DataFrame:
    """Each query's k best (dist_km, _tid) rows, ranked from 1, with
    ``_tid`` renamed to ``neighbor_id``."""
    w = Window.partitionBy(query_id).orderBy(F.col("dist_km").asc(), F.col("_tid").asc())
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .withColumnRenamed("_tid", "neighbor_id")
    )


def _knn_target_join(shell_df: DataFrame, t: DataFrame, no_bc: bool) -> DataFrame:
    """The kNN candidate join: broadcast under the byte gate, shuffle
    hash join on the cell key above it (both sides hash-partition on
    ``_cell``; the plan must contain no BroadcastExchange in that
    regime — asserted by test_plan_shape)."""
    if no_bc:
        j = shell_df.hint("shuffle_hash").join(t, F.col("_cell") == t._tcell, "inner")
    else:
        j = shell_df.join(F.broadcast(t), F.col("_cell") == t._tcell, "inner")
    return j.withColumn(
        "dist_km",
        F.round(
            haversine_col(F.col("lat"), F.col("lon"), F.col("_tlat"), F.col("_tlon")),
            9,
        ),
    ).drop("_cell", "_tcell", "_tlat", "_tlon")


# ---------------------------------------------------------------------------
# tile rollups (A9)
# ---------------------------------------------------------------------------


def multi_zoom_rollup(
    points: DataFrame, cell_expr: Column, parent_expr_fn, levels: list[int]
) -> DataFrame:
    """Hierarchical rollup: (cell, n, zoom), one row per occupied cell of
    every level. Each point is tagged with its finest cell (``cell_expr``,
    zoom ``levels[0]``) once; ``parent_expr_fn(cell, lv)`` maps it to its
    level-``lv`` parent for every coarser level with pure integer parent
    math, and one groupBy counts every (cell, zoom) pair."""
    finest = points.select(cell_expr.alias("cell"))
    tags = [F.struct(F.col("cell").alias("cell"), F.lit(levels[0]).alias("zoom"))] + [
        F.struct(parent_expr_fn(F.col("cell"), lv).alias("cell"), F.lit(lv).alias("zoom"))
        for lv in levels[1:]
    ]
    return (
        finest.select(F.inline(F.array(*tags)))
        .groupBy("cell", "zoom")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("cell", "n", "zoom")
    )


# ---------------------------------------------------------------------------
# as-of dedup (J11): latest crawl per url
# ---------------------------------------------------------------------------


def latest_snapshot(pages: DataFrame, key: str = "url", ts: str = "warc_ts") -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return pages.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
