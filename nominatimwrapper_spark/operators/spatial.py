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
  the correctness reference) and ring expansion over grid cells
  (``knn_cells``) or H3 cells (``knn_h3``), both through one loop
  (``_knn_ring_loop``): r=0,1,2,... joins, stopping per-query as soon
  as k neighbors are guaranteed correct (found-distance <= ring reach).
- Rollups: straight groupBy(cell) + optional two-phase SALTED variant for
  skewed hot cells (one city = 25% of traffic in the synth world): partial
  agg on (cell, salt) then final merge — the classic skew-safe pattern.
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
    how: str = "inner",
    cover: str = "grid",
    h3_res: int = 7,
) -> DataFrame:
    """Assign each point to the polygon(s) containing it.

    points: any DataFrame with lat/lon columns.
    polygons: (poly_id, name, ring_xy, ring_offsets, bbox_*) per FIXTURES.md §4.
    Returns points columns + (poly_id, poly_name).

    ``cover`` picks the candidate tiling: ``'grid'`` (planar integer
    lat/lon cells from the bbox) or ``'h3'`` — the H3-native cover via
    ``polygon_cover_cells`` (center polyfill + edge-sample disk-1, a
    provable intersect superset at ``h3_res``), so H3-indexed polygon
    layers join points without a second tiling. Either way the exact
    even-odd ray cast decides; the cover only bounds who pays it.
    """
    # left mode joins results back onto the input; equality on double
    # lat/lon is fragile and duplicate input rows would multiply, so key
    # the join on a synthesized unique row id instead (inner mode never
    # joins back — no id needed there). The id-bearing frame MUST be
    # pinned before the plan branches: monotonically_increasing_id is
    # only stable if partitioning and intra-partition order reproduce,
    # which shuffled/AQE-coalesced/speculatively re-executed upstreams
    # don't guarantee across the two evaluations (the hit subtree and
    # the left side) — an unpinned id silently drops or misattributes
    # matches. localCheckpoint materializes the ids once; left mode pays
    # that materialization, inner mode stays pipelined.
    if how != "inner":
        points = points.withColumn(
            "_pt_id", F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)

    if cover == "h3":
        from ..functions.h3 import h3_cell_col

        if h3_res is None:
            # auto: finest res whose min cell spacing >= ~1/24 of the
            # mean polygon extent — covers land in O(100s) of cells per
            # polygon instead of exploding at a too-fine static res (or
            # over-joining points at a too-coarse one). One tiny agg on
            # the SMALL (polygon) side.
            from ..functions.h3 import _EMB_REACH

            row = polygons.agg(
                F.avg(F.col("bbox_maxx") - F.col("bbox_minx")).alias("dx"),
                F.avg(F.col("bbox_maxy") - F.col("bbox_miny")).alias("dy"),
                F.avg((F.col("bbox_miny") + F.col("bbox_maxy")) / 2).alias("midlat"),
            ).first()
            ext_km = max(
                float(row["dy"] or 0.0) * 111.19492664455873,
                float(row["dx"] or 0.0)
                * 111.19492664455873
                * max(math.cos(math.radians(float(row["midlat"] or 0.0))), 0.05),
                1e-6,
            )
            h3_res = 0
            for cand in range(15, -1, -1):
                if _EMB_REACH[cand][1] >= ext_km / 24.0:
                    h3_res = cand
                    break

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
    hit = joined.filter(
        _ray_cast_udf(F.col(lon_col), F.col(lat_col), F.col("ring_xy"), F.col("ring_offsets"))
    ).drop("ring_xy", "ring_offsets", "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy", "cell")

    if how == "inner":
        return hit
    # left: keep unmatched points with null poly, joined on the unique id
    return points.join(
        hit.select("_pt_id", "poly_id", "poly_name"), on="_pt_id", how="left"
    ).drop("_pt_id")


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
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist_km").asc(), F.col("_tid").asc())
    return (
        j.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_tlat", "_tlon")
        .withColumnRenamed("_tid", "neighbor_id")
    )


def knn_cells(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    target_id: str = "place_id",
    cells_per_degree: int = 32,
    max_rings: int = 8,
    broadcast_max_bytes: int = 800 * 1024 * 1024,
    force_no_broadcast: bool = False,
) -> DataFrame:
    """Scale-path kNN: grid-cell ring expansion (SURVEY.md J10/W4).

    INCREMENTAL shells: ring r joins only the cells at Chebyshev distance
    exactly r (the 8r-cell shell, not the whole (2r+1)^2 block), and the
    scored candidates accumulate across rings — every (query, target) pair
    is scored exactly once. A query's result is final once its k-th
    neighbor distance is <= the minimum distance any target OUTSIDE the
    searched block could have (r cells of guaranteed reach); unfinished
    queries continue to the next ring. Driver loop depth <= max_rings.

    The target projection broadcasts only under the byte gate
    (``broadcast_max_bytes``); above it each ring's join degrades to a
    shuffle hash join on the cell key instead of OOMing on a
    planet-scale target corpus.
    """
    w_cells = 360 * cells_per_degree
    # narrow projection cached: each ring is its own action (see knn_h3)
    t = targets.select(
        F.col(target_id).alias("_tid"),
        F.col("lat").alias("_tlat"),
        F.col("lon").alias("_tlon"),
        grid_cell_col(F.col("lat"), F.col("lon"), cells_per_degree).alias("_tcell"),
    ).cache()
    no_bc = _targets_too_big_to_broadcast(t, broadcast_max_bytes, force_no_broadcast)

    q = queries.withColumn("_qcell", grid_cell_col(F.col("lat"), F.col("lon"), cells_per_degree))
    # cell height in km (lat direction is uniform; lon shrinks with cos(lat),
    # so the lat-based bound is the safe one at |lat| < 66 deg for ring math
    # we use the smaller km-per-cell of the two axes at the query latitude)
    cell_h_km = 111.19492664455873 / cells_per_degree

    def shell_rows(r: int, remaining: DataFrame):
        offs = [
            (dy, dx)
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
            if max(abs(dy), abs(dx)) == r  # shell only
        ]
        offs_arr = F.array(*[F.lit(dy * w_cells + dx) for dy, dx in offs])
        return (
            remaining.withColumn("_off", F.explode(offs_arr))
            .withColumn("_cell", F.col("_off") + F.col("_qcell"))
            .drop("_off")
        ), False

    def finish(r: int, kth: DataFrame):
        # guaranteed reach of the searched block: r full cells beyond the
        # query's own cell. Longitude cells are narrower in km by cos(lat),
        # so the safe bound uses the lon-direction width (with margin).
        reach_km = F.lit(r * cell_h_km) * F.col("_coslat") * F.lit(0.99)
        return kth, (F.col("_n") >= k) & (F.col("_kth") <= reach_km)

    return _knn_ring_loop(
        q, t, no_bc, k, query_id, max_rings, shell_rows, finish,
        [F.min(F.cos(F.radians(F.col("lat")))).alias("_coslat")], ["_qcell"],
    )


def _knn_ring_loop(
    q: DataFrame, t: DataFrame, no_bc: bool, k: int, query_id: str, max_rings: int,
    shell_rows, finish, kth_aggs: list[Column], helper_cols: list[str],
) -> DataFrame:
    """The incremental-shell loop of ``knn_cells`` and ``knn_h3``. Ring r
    joins the unfinished queries' ring-r cells (``shell_rows(r, remaining)``
    -> (rows with a ``_cell`` column, sphere-exhausted flag)) to the
    targets and accumulates the scored candidates, so every (query,
    target) pair is scored once. ``finish(r, kth)`` -> (kth, predicate)
    marks a query final from its k-th distance ``_kth``, candidate count
    ``_n`` and ``kth_aggs``; at the last ring, or on exhaustion, every
    query is final with what it found. ``helper_cols`` are dropped from
    the result."""
    remaining = q
    acc: DataFrame | None = None  # scored candidates of still-unfinished queries
    done_parts: list[DataFrame] = []
    try:
        for r in range(max_rings + 1):
            shell, exhausted = shell_rows(r, remaining)
            shell = _knn_target_join(shell, t, no_bc)
            acc = shell if acc is None else acc.unionByName(shell)
            # materialize: the shell join + every prior ring would otherwise be
            # re-evaluated by the window, the finish filter AND the next ring
            acc = acc.localCheckpoint(eager=True)

            wnd = Window.partitionBy(query_id).orderBy(F.col("dist_km").asc(), F.col("_tid").asc())
            topk = acc.withColumn("knn_rank", F.row_number().over(wnd)).filter(
                F.col("knn_rank") <= k
            )
            kth = topk.groupBy(query_id).agg(
                F.max("dist_km").alias("_kth"), F.count("*").alias("_n"), *kth_aggs
            )
            kth, final = finish(r, kth)
            finished_keys = kth.filter(final).select(query_id)
            if r == max_rings or exhausted:  # everything found is final
                finished_keys = kth.select(query_id)
            finished = topk.join(finished_keys, on=query_id, how="inner")
            done_parts.append(
                finished.drop(*helper_cols).withColumnRenamed("_tid", "neighbor_id")
                .localCheckpoint(eager=True)
            )
            remaining = remaining.join(finished_keys, on=query_id, how="left_anti").localCheckpoint(
                eager=True
            )
            if exhausted or remaining.isEmpty():
                break
            acc = acc.join(finished_keys, on=query_id, how="left_anti")
    finally:
        # done_parts are localCheckpoint()ed, so the cached target
        # projection is no longer needed — drop it eagerly or repeated
        # kNN calls accrete executor storage for the app lifetime.
        t.unpersist(blocking=True)

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# tile rollups (A9)
# ---------------------------------------------------------------------------


def tile_rollup(
    points: DataFrame,
    cell_col: str = "cell",
    count_distinct_col: str | None = None,
    avg_cols: tuple[str, ...] = (),
    salt_partitions: int | None = None,
    salt_key: str | None = None,
) -> DataFrame:
    """counts (+ distinct + means) per tile cell.

    ``salt_partitions``: two-phase aggregation for skewed hot cells —
    partial agg on (cell, salt) then merge. count_distinct falls back to
    the plain path (distinct cannot be salted without a set union; use
    approx_count_distinct at 100 TB scale instead)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if count_distinct_col:
        aggs.append(F.countDistinct(count_distinct_col).alias(f"n_{count_distinct_col}"))
    for c in avg_cols:
        aggs.append(F.avg(c).alias(f"avg_{c}"))

    if not salt_partitions or count_distinct_col:
        return points.groupBy(cell_col).agg(*aggs)

    key = F.col(salt_key) if salt_key else F.spark_partition_id()
    salted = points.withColumn("_salt", F.pmod(F.hash(key), F.lit(salt_partitions)))
    partial_aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(c).alias(f"_s_{c}") for c in avg_cols
    ]
    partial = salted.groupBy(cell_col, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum("_n").alias("n")] + [
        (F.sum(f"_s_{c}") / F.sum("_n")).alias(f"avg_{c}") for c in avg_cols
    ]
    return partial.groupBy(cell_col).agg(*final_aggs)


def _knn_target_join(shell_df: DataFrame, t: DataFrame, no_bc: bool) -> DataFrame:
    """One ring's candidate join: broadcast under the byte gate, shuffle
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


def _targets_too_big_to_broadcast(
    t: DataFrame, broadcast_max_bytes: int, force_no_broadcast: bool
) -> bool:
    """The cascade's byte gate (geocode.py build_gazetteer_index), reused
    for kNN target tables: estimate serialized bytes from a sampled row
    width x count and refuse to broadcast above the budget — a
    planet-scale POI corpus must degrade to a shuffle join on the cell
    key, not OOM the executors."""
    if force_no_broadcast:
        return True
    from .geocode import _avg_row_bytes

    n = t.count()
    return n * _avg_row_bytes(t) > broadcast_max_bytes


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
    force_no_broadcast: bool = False,
    on_overflow: str = "coarsen",
) -> DataFrame:
    """kNN via H3 ring expansion (J10/W4 on the real Uber-H3 tiling).

    Runs the incremental-shell loop ``_knn_ring_loop`` shared with
    ``knn_cells``: ring r joins only the cells at exactly grid distance r,
    candidates accumulate, and a query finishes once its k-th neighbor is
    provably closer than any point in an unsearched cell. The finish
    bound is per query cell with a ONE-RING LOOKAHEAD: ring r+1's exact
    minimum center distance (its shells are driver-computed anyway), plus
    the calibrated reach table (functions/h3.py ring_finish_reach_km —
    per-ring minima over the pentagon/seam distortion extremes) for rings
    >= r+2, minus the target's max center offset and the query point's
    ACTUAL center offset. Replaces the round-3 ``r * min_spacing`` bound that was
    unsound for hex grid distance (zigzag centers).

    Scale shape:
    - ring shells are built LAZILY per ring from the still-active query
      cells only (one batched BFS step each ring, memoized), never the
      full disk table up front;
    - the target projection broadcasts only under the byte gate
      (``broadcast_max_bytes``, same estimator as the geocode cascade);
      above it the per-ring join degrades to a shuffle hash join on the
      cell key — both sides hash-partition on ``_cell``, nothing OOMs;
    - ``max_query_cells`` bounds the driver-side BFS. Above it,
      ``on_overflow='coarsen'`` re-runs at the finest resolution below
      the input whose distinct-cell count fits (correct at any res —
      only ring membership changes, the distance math is identical);
      ``'raise'`` keeps the round-3 hard error.
    """
    from ..functions.h3 import grid_rings, h3_cell_col, ring_finish_reach_km
    from ..functions.h3 import cell_to_latlng, grid_neighbors

    if max_rings < 1 or max_rings > 15:
        raise ValueError("knn_h3: max_rings must be in 1..15")

    q = queries.withColumn("_qcell", h3_cell_col(F.col("lat"), F.col("lon"), res))
    qcells = [
        r[0]
        for r in q.select("_qcell").distinct().limit(max_query_cells + 1).collect()
    ]
    if len(qcells) > max_query_cells:
        if on_overflow != "coarsen":
            raise ValueError(
                f"knn_h3: > {max_query_cells} distinct query cells; use a "
                "coarser res, knn_cells, or on_overflow='coarsen'"
            )
        for coarser in range(res - 1, -1, -1):
            qc = queries.withColumn(
                "_qcell", h3_cell_col(F.col("lat"), F.col("lon"), coarser)
            )
            n = qc.select("_qcell").distinct().limit(max_query_cells + 1).count()
            if n <= max_query_cells:
                return knn_h3(
                    queries, targets, k, query_id, target_id, coarser,
                    max_rings, max_query_cells, broadcast_max_bytes,
                    force_no_broadcast, on_overflow="raise",
                )
        raise ValueError("knn_h3: query cells exceed the cap even at res 0")

    # cache the NARROW target projection (id, lat, lon, cell — ~32 B/row,
    # spillable): every ring is a separate action, so an uncached t would
    # re-scan the corpus and re-run the cell-tagging UDF per ring
    t = targets.select(
        F.col(target_id).alias("_tid"),
        F.col("lat").alias("_tlat"),
        F.col("lon").alias("_tlon"),
        h3_cell_col(F.col("lat"), F.col("lon"), res).alias("_tcell"),
    ).cache()
    spark = queries.sparkSession
    no_bc = _targets_too_big_to_broadcast(
        t, broadcast_max_bytes, force_no_broadcast
    )

    suffix_d, r_max = ring_finish_reach_km(res, max_ring=max_rings + 1)

    # query-cell centers: the finish bound uses each query point's ACTUAL
    # offset from its cell center (driver-computed once; the query side is
    # the small side by contract)
    qarr = np.array(qcells, dtype=np.uint64) if qcells else np.array([], dtype=np.uint64)
    if len(qarr):
        qla, qlo = cell_to_latlng(qarr)
        qcenters = spark.createDataFrame(
            pd.DataFrame(
                {"_qcell": qarr.astype(np.int64), "_qclat": qla, "_qclng": qlo}
            )
        )
    else:
        qcenters = spark.createDataFrame([], "_qcell long, _qclat double, _qclng double")
    q = q.join(F.broadcast(qcenters), on="_qcell", how="left").withColumn(
        "_qoff", haversine_col(F.col("lat"), F.col("lon"), F.col("_qclat"), F.col("_qclng"))
    ).drop("_qclat", "_qclng")

    # per-query-cell BFS state for lazy shells; centers memoized across
    # rings (ring cells recur across nearby query cells)
    seen: dict[int, set[int]] = {int(c): {int(c)} for c in qcells}
    qcenter: dict[int, tuple[float, float]] = (
        {int(c): (float(a), float(b)) for c, a, b in zip(qarr, qla, qlo)}
        if len(qarr)
        else {}
    )
    center_cache: dict[int, tuple[float, float]] = dict(qcenter)

    def _centers_of(cells_set: set[int]) -> None:
        todo = sorted(cells_set - center_cache.keys())
        if todo:
            ta = np.array(todo, dtype=np.uint64)
            tla, tlo = cell_to_latlng(ta)
            center_cache.update(
                (int(c), (float(a), float(b))) for c, a, b in zip(todo, tla, tlo)
            )

    def _bfs_step(cur: dict[int, set[int]]) -> dict[int, set[int]]:
        flat = sorted({s for c, sh in cur.items() if sh for s in sh})
        if not flat:
            return {c: set() for c in cur}
        neigh = grid_neighbors(np.array(flat, dtype=np.uint64))
        out = {}
        for c, sh in cur.items():
            nxt = set()
            for s in sh:
                nxt |= neigh[s]
            nxt -= seen[c]
            seen[c] |= nxt
            out[c] = nxt
        return out

    def _hav_np(a, b):
        (la1, lo1), (la2, lo2) = a, b
        r1, r2 = np.radians(la1), np.radians(la2)
        dla = np.radians(la2 - la1)
        dlo = np.radians(lo2 - lo1)
        h_ = np.sin(dla / 2) ** 2 + np.cos(r1) * np.cos(r2) * np.sin(dlo / 2) ** 2
        return 2 * 6371.0088 * float(np.arcsin(np.sqrt(min(max(h_, 0.0), 1.0))))

    shells: dict[int, set[int]] = {int(c): {int(c)} for c in qcells}
    bounds: DataFrame | None = None  # ring r's per-query-cell lookahead bound
    empty_shell = spark.createDataFrame([], "_qcell long, _cell long")
    empty_bounds = spark.createDataFrame([], "_qcell long, _local double, _exh boolean")

    def shell_rows(r: int, remaining: DataFrame):
        nonlocal shells, bounds
        if r:
            # prune the BFS to cells some unfinished query still needs — one
            # small collect on the (checkpointed, capped) query side saves
            # the driver-side neighbor expansion for finished regions
            live = {row[0] for row in remaining.select("_qcell").distinct().collect()}
            shells = {c: s for c, s in shells.items() if c in live}
        active = [c for c in shells if shells[c]]
        rows = [(int(c), int(s)) for c in active for s in shells[c]]
        exhausted = not rows and r > 0  # every active query searched the sphere
        ring_map = (
            spark.createDataFrame(pd.DataFrame(rows, columns=["_qcell", "_cell"]))
            if rows
            else empty_shell
        )
        # ONE-RING LOOKAHEAD for the finish bound: ring r+1's shells are
        # computed now, so the bound can use each query cell's EXACT
        # minimum center distance to its next ring (local grid spacing —
        # typically ~1.7x the pentagon-depressed global minimum), with
        # the global suffix table covering rings >= r+2 only.
        shells = _bfs_step(shells)
        local_rows = []
        if r < max_rings:
            want = set()
            for c in active:
                want |= shells.get(c, set())
            _centers_of(want)
            for c in active:
                nxt = shells.get(c, set())
                if nxt:
                    lm = min(_hav_np(qcenter[c], center_cache[s]) for s in nxt)
                    local_rows.append((int(c), lm * 0.999, False))  # float margin
                else:
                    # BFS exhausted for this cell: disk r covers every
                    # reachable cell, so NOTHING is unsearched — the
                    # query is final with whatever it found
                    local_rows.append((int(c), 0.0, True))
        bounds = (
            spark.createDataFrame(
                pd.DataFrame(local_rows, columns=["_qcell", "_local", "_exh"])
            )
            if local_rows
            else empty_bounds
        )
        return remaining.join(F.broadcast(ring_map), on="_qcell", how="inner"), exhausted

    def finish(r: int, kth: DataFrame):
        # any unsearched target sits either in ring r+1 (exact local
        # minimum center distance, computed above) or at grid distance
        # >= r+2 (global suffix table); both net the target's max center
        # offset and the query point's ACTUAL center offset
        glob_next = float(suffix_d[r + 1]) if r + 1 < len(suffix_d) else float(suffix_d[-1])
        kth = kth.join(F.broadcast(bounds), kth._qc == bounds._qcell, "left")
        bound_center = F.least(
            F.coalesce(F.col("_local"), F.lit(float("inf"))), F.lit(glob_next)
        )
        finish_km = bound_center - F.lit(float(r_max)) - F.col("_qo")
        return kth, F.coalesce(F.col("_exh"), F.lit(False)) | (
            (F.col("_n") >= k) & (F.col("_kth") <= finish_km)
        )

    return _knn_ring_loop(
        q, t, no_bc, k, query_id, max_rings, shell_rows, finish,
        [F.max("_qoff").alias("_qo"), F.max("_qcell").alias("_qc")], ["_qcell", "_qoff"],
    )


def multi_zoom_rollup(
    points: DataFrame, cell_expr: Column, parent_expr_fn, levels: list[int]
) -> DataFrame:
    """Hierarchical rollup: compute the finest cells once, then roll up to
    coarser zooms with pure integer parent math (no re-scan of the input)."""
    finest = points.withColumn("cell", cell_expr)
    base = finest.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    outs = [base.withColumn("zoom", F.lit(levels[0]))]
    for lv in levels[1:]:
        outs.append(
            base.withColumn("cell", parent_expr_fn(F.col("cell"), lv))
            .groupBy("cell")
            .agg(F.sum("n").alias("n"))
            .withColumn("zoom", F.lit(lv))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# as-of dedup (J11): latest crawl per url
# ---------------------------------------------------------------------------


def latest_snapshot(pages: DataFrame, key: str = "url", ts: str = "warc_ts") -> DataFrame:
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return pages.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
