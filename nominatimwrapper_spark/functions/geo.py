# -*- coding: utf-8 -*-
"""Geo scalar kernels: haversine distance + simple lat/lon grid tiles.

The reference computes reject-to-match distances with geopy's geodesic
(utils.py:1066, 1091). geopy is absent here and a pure-Column haversine is
JVM-side + codegen-friendly, so the engine uses haversine everywhere
(engine AND oracle — consistent by construction, as SURVEY.md F14 notes).

Grid tiles are the SQL-expressible tiling used for oracle-checked rollups;
S2 / H3 cell ids live in s2.py / h3.py (not ANSI-SQL-expressible, checked
against pinned vectors instead).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius


def haversine_km(lat1: float, lon1: float, lat2: float, lon2: float) -> float:
    """Scalar haversine (km) — test oracle twin of :func:`haversine_col`."""
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(a))


def haversine_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Haversine distance in km as a pure Column expression.

    Stays inside whole-stage codegen — no Python crossing. Used for
    reject-to-match distance (reference utils.py:1080-1093) and kNN
    re-ranking.
    """
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dp = F.radians(lat2 - lat1)
    dl = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dp / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dl / 2), 2)
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def grid_cell_col(lat: Column, lon: Column, cells_per_degree: int = 32) -> Column:
    """Integer grid cell id: interleaved-free (row-major) packing of the
    floored lat/lon grid. ANSI-SQL-expressible, so DuckDB can oracle-check
    rollups built on it. ~32 cells/degree ≈ 3.5 km at Belgian latitudes,
    comparable to S2 level 13 / H3 res 9 footprints for skew purposes.
    """
    iy = F.floor((lat + F.lit(90.0)) * F.lit(float(cells_per_degree))).cast("long")
    ix = F.floor((lon + F.lit(180.0)) * F.lit(float(cells_per_degree))).cast("long")
    return (iy * F.lit(360 * cells_per_degree) + ix).cast("long")


def grid_cell_parent_col(cell: Column, cells_per_degree: int = 32, factor: int = 8) -> Column:
    """Zoom-out: parent cell at ``cells_per_degree/factor`` resolution —
    pure integer math (the analog of S2/H3 parent bit-shifts)."""
    width = 360 * cells_per_degree
    iy = (cell / F.lit(width)).cast("long")
    ix = cell % F.lit(width)
    py = (iy / F.lit(factor)).cast("long")
    px = (ix / F.lit(factor)).cast("long")
    pw = width // factor
    return (py * F.lit(pw) + px).cast("long")


def grid_cell_scalar(lat: float, lon: float, cells_per_degree: int = 32) -> int:
    iy = math.floor((lat + 90.0) * cells_per_degree)
    ix = math.floor((lon + 180.0) * cells_per_degree)
    return iy * 360 * cells_per_degree + ix


# ---------------------------------------------------------------------------
# hexagonal tiling (planar axial grid + cube rounding)
# ---------------------------------------------------------------------------
# An H3-STYLE hexagonal rollup operator. NOT bit-compatible with Uber H3
# (whose base-cell tables cannot be re-derived from public math alone —
# SURVEY.md F20 hedge); this is a planar pointy-top axial hex grid, exact
# and deterministic, suitable for regional extents. S2 (s2.py) carries the
# global tiling story.

_SQRT3 = math.sqrt(3.0)
_HEX_OFFSET = 1 << 20
_HEX_SPAN = 1 << 21


def _hex_cube_round_pack(q: Column, r: Column) -> Column:
    """Cube-round fractional axial coords and pack into an int64 cell id."""
    rq = F.round(q, 0)
    rr = F.round(r, 0)
    rs = F.round(-q - r, 0)
    dq = F.abs(rq - q)
    dr = F.abs(rr - r)
    ds = F.abs(rs + q + r)
    fq = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    fr = F.when(~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs).otherwise(rr)
    # re-fix q when r was adjusted is unnecessary: cube rounding fixes only
    # the axis with the largest error; the others stay rounded
    return (
        (fq.cast("long") + F.lit(_HEX_OFFSET)) * F.lit(_HEX_SPAN)
        + (fr.cast("long") + F.lit(_HEX_OFFSET))
    ).cast("long")


def hex_cell_col(lat: Column, lon: Column, size_deg: float = 0.005) -> Column:
    """int64 hex cell via axial coords + cube rounding — pure Column math
    (stays in codegen). size_deg ~0.005 ≈ H3 res-9-ish footprint at 50°N."""
    q = (F.lit(_SQRT3 / 3.0) * lon - F.lit(1.0 / 3.0) * lat) / F.lit(size_deg)
    r = (F.lit(2.0 / 3.0) * lat) / F.lit(size_deg)
    return _hex_cube_round_pack(q, r)


def hex_cell_parent_col(cell: Column, factor: int = 4) -> Column:
    """Hex zoom-out (the F21 parent op for the hex tiling): the parent is
    the ``factor``-times-larger hex containing the CHILD CENTER. Closed
    form: a child center's fractional axial coords on the parent grid are
    exactly (fq/factor, fr/factor), so parent = cube_round(fq/f, fr/f) —
    pure Column math, ANSI-SQL-expressible (oracled as hex_parent_rollup).
    Like H3's aperture-7 parents, coverage is center-containment (hexes
    don't nest exactly); the rollup semantics are identical."""
    fq = F.floor(cell / F.lit(_HEX_SPAN)).cast("long") - F.lit(_HEX_OFFSET)
    fr = cell % F.lit(_HEX_SPAN) - F.lit(_HEX_OFFSET)
    return _hex_cube_round_pack(fq / F.lit(float(factor)), fr / F.lit(float(factor)))


def hex_cell_scalar(lat: float, lon: float, size_deg: float = 0.005) -> int:
    """Scalar twin of :func:`hex_cell_col` (tests, center math)."""
    q = (_SQRT3 / 3.0 * lon - lat / 3.0) / size_deg
    r = (2.0 / 3.0 * lat) / size_deg
    rq, rr, rs = _round_half_up(q), _round_half_up(r), _round_half_up(-q - r)
    dq, dr, ds = abs(rq - q), abs(rr - r), abs(rs + q + r)
    if dq > dr and dq > ds:
        rq = -rr - rs
    elif dr > ds:
        rr = -rq - rs
    return int((rq + _HEX_OFFSET) * _HEX_SPAN + (rr + _HEX_OFFSET))


def hex_cell_parent_scalar(cell: int, factor: int = 4) -> int:
    """Scalar twin of :func:`hex_cell_parent_col`."""
    fq = cell // _HEX_SPAN - _HEX_OFFSET
    fr = cell % _HEX_SPAN - _HEX_OFFSET
    q, r = fq / factor, fr / factor
    rq, rr, rs = _round_half_up(q), _round_half_up(r), _round_half_up(-q - r)
    dq, dr, ds = abs(rq - q), abs(rr - r), abs(rs + q + r)
    if dq > dr and dq > ds:
        rq = -rr - rs
    elif dr > ds:
        rr = -rq - rs
    return int((rq + _HEX_OFFSET) * _HEX_SPAN + (rr + _HEX_OFFSET))


def _round_half_up(x: float) -> float:
    # match Spark's F.round(col, 0) HALF_UP (away-from-zero) semantics
    import decimal

    return float(decimal.Decimal(x).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))


def hex_cell_center(cell: int, size_deg: float = 0.005) -> tuple[float, float]:
    """Hex cell id -> (lat, lon) of its center."""
    fq = cell // _HEX_SPAN - _HEX_OFFSET
    fr = cell % _HEX_SPAN - _HEX_OFFSET
    lat = 1.5 * fr * size_deg
    lon = _SQRT3 * (fq + fr / 2.0) * size_deg
    return lat, lon


def s2_h3_cells(
    lat: np.ndarray, lon: np.ndarray, s2_level: int = 13, h3_res: int = 9
) -> pd.DataFrame:
    """S2 level-L and H3 res-R ids of float lat/lon arrays as columns
    ``s2``/``h3``. A row with a NaN coordinate gets nulls, not the ids of
    an invented point."""
    from . import s2
    from .h3 import latlng_to_cell

    bad = np.isnan(lat) | np.isnan(lon)
    la0 = np.where(bad, 0.0, lat)
    lo0 = np.where(bad, 0.0, lon)
    s2_ids = s2.parent_cell(s2.lat_lon_to_leaf_id(la0, lo0), s2_level)
    h3_ids = latlng_to_cell(la0, lo0, h3_res)
    out = pd.DataFrame(
        {
            "s2": np.asarray(s2_ids).astype(np.int64, copy=False),
            "h3": h3_ids.astype(np.int64, copy=False),
        }
    )
    if bad.any():
        # nullable Int64, NOT None-assignment on int64 (that upcasts
        # to float64 and rounds ids above 2^53)
        out = out.astype("Int64")
        out.loc[bad, ["s2", "h3"]] = pd.NA
    return out


def s2_h3_cells_udf(s2_level: int = 13, h3_res: int = 9):
    """BOTH tile ids (S2 level-L + H3 res-R) in ONE struct-returning
    pandas UDF — one Arrow crossing instead of two for pipelines that tag
    points with both tilings (the flagship emits cell13 + h3_9; two
    separate UDFs serialize the same lat/lon across the Python boundary
    twice on the output path)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("s2 long, h3 long")
    def _cells(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        return s2_h3_cells(
            lat.to_numpy(dtype=np.float64, na_value=np.nan),
            lon.to_numpy(dtype=np.float64, na_value=np.nan),
            s2_level, h3_res,
        )

    return _cells
