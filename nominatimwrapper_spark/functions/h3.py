# -*- coding: utf-8 -*-
"""Uber-H3 bit-compatible cell indexing (geo -> cell), res 0..15.

Implements ``latLngToCell`` from the PUBLIC H3 spec and Apache-2 reference
implementation (h3geo.org: "H3 Index Bit Layout", "Coordinate systems",
icosahedron orientation constants) — the same published-material route the
S2 Hilbert tables took in functions/s2.py. Nothing here is a code copy:
the algorithm is re-derived from the documented math (gnomonic projection
onto the H3-oriented icosahedron, aperture-7 hex grid rounding, class
II/III digit aggregation, base-cell canonical rotations).

Seeded published constants (the ONLY recalled data):
  * the 20 icosahedron face centers (lat/lng radians) and the class-II
    i-axis azimuth per face — validated by icosahedral geometry
    invariants (antipodal pairs, uniform inter-face angles) in tests;
  * the 122 base cells' home (face, i, j, k) coordinates + the 12
    pentagon flags (+ the published cwOffsetPent pairs as seeds, which
    the solver independently REPRODUCES — strong corroboration).

DERIVED (solved, not recalled) data — embedded as literals below, solved
by scripts/gen_h3_tables.py and re-derived/asserted equal in
tests/test_h3.py:
  * ``_FACE_BC``: (face, i, j, k) -> base cell for every face coordinate
    in {0..2}^3, matched geometrically against the 122 home-chart cell
    centers (unambiguous: distortion < 0.09 rad vs 0.38 rad spacing).
  * ``_FACE_ROT`` for hexagon cells: chained seam consistency — H3's
    published tables make latLngToCell continuous across closest-face
    routing seams, which pins each non-home chart's rotation against an
    already-solved chart of the same cell (home = rot 0 by definition).
  * ``_FACE_ROT`` + leading-K fix directions for pentagon cells: a
    collision-freedom CSP — pentagon canonicalization is only
    piecewise-rigid, so the tiling itself (every canonical index owns
    one tight region) is the decisive observable; the solver enumerates
    rotationxflag candidates per chart and keeps the unique
    collision-free assignment (~3x discrimination margin).

Validation (tests/test_h3.py):
  * published test vectors (h3-py / h3-js docs examples);
  * global tiling checksums: exactly 2 + 120*7^r distinct cells at res r
    over a dense uniform sample, every cell's sample-point radius
    bounded by the cell size (catches ANY wrong table entry: a bad
    rotation or base cell fuses two far-apart regions into one index);
  * pentagon digit law: no index in a pentagon base cell has leading
    nonzero digit K (1);
  * seam consistency: near-identical points straddling icosahedron face
    boundaries produce identical indexes;
  * embedded tables == a fresh derivation.

Reference parity: replaces the planar-hex stand-in flagged by round-2
review (F20); the reference repo itself has no H3, this is north-rule
surface ("H3 res-9" named explicitly).

Scale: the hot path is ``latlng_to_cell`` — pure vectorized numpy over
Arrow batches (one trig pass + 15 integer-aggregation steps), no Python
loop over rows, exported as a pandas UDF. Parent/rollup math is pure
JVM-side Column bit arithmetic (and DuckDB-expressible, so rollups stay
SQL-oracled).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

# ---------------------------------------------------------------------------
# published orientation constants (h3geo.org / Apache-2 reference, faceijk)
# ---------------------------------------------------------------------------

# lat, lng in radians for each of the 20 icosahedron face centers
FACE_CENTER_GEO = np.array([
    [0.803582649718989942, 1.248397419617396099],    # 0
    [1.307747883455638156, 2.536945009877921159],    # 1
    [1.054751253523952054, -1.347517358900396623],   # 2
    [0.600191595538186799, -0.450603909469755746],   # 3
    [0.491715428198773866, 0.401988202911306943],    # 4
    [0.172745327415618701, 1.678146885280433686],    # 5
    [0.605929321571350690, 2.953923329812411617],    # 6
    [0.427370518328979641, -1.888876200336285401],   # 7
    [-0.079066118549212831, -0.733429513380867741],  # 8
    [-0.230961644455383637, 0.506495587332349035],   # 9
    [0.079066118549212831, 2.408163140208925497],    # 10
    [0.230961644455383637, -2.635097066257444203],   # 11
    [-0.172745327415618701, -1.463445768309359553],  # 12
    [-0.605929321571350690, -0.187669323777381622],  # 13
    [-0.427370518328979641, 1.252716453253569838],   # 14
    [-0.600191595538186799, 2.690988744120037492],   # 15
    [-0.491715428198773866, -2.739604450678486295],  # 16
    [-0.803582649718989942, -1.893195233972397139],  # 17
    [-1.307747883455638156, -0.604647643711872080],  # 18
    [-1.054751253523952054, 1.794075294689396615],   # 19
])

# class-II i-axis azimuth (radians, clockwise from north) per face; the j
# and k axes sit at exactly -2pi/3 steps, so only column 0 is seed data
FACE_AXES_AZ_I = np.array([
    5.619958268523939882,   # 0
    5.760339081714187279,   # 1
    0.780213654393430055,   # 2
    0.430469363979999913,   # 3
    6.130269123335111400,   # 4
    2.692877706530642877,   # 5
    2.982963003477243874,   # 6
    3.532912002790141181,   # 7
    3.494305004259568154,   # 8
    3.003214169499538391,   # 9
    5.930472956509811562,   # 10
    0.138378484090254847,   # 11
    0.448714947059150361,   # 12
    0.158629650112549365,   # 13
    5.891865957979238535,   # 14
    2.711123289609793325,   # 15
    3.294508837434268316,   # 16
    3.804819692245439833,   # 17
    3.664438879055192436,   # 18
    2.361378999196363184,   # 19
])

# base cell -> home (face, i, j, k); published base-cell orientation data
_BASE_CELL_HOME = [
    (1, 1, 0, 0), (2, 1, 1, 0), (1, 0, 0, 0), (2, 1, 0, 0), (0, 2, 0, 0),
    (1, 1, 1, 0), (1, 0, 0, 1), (2, 0, 0, 0), (0, 1, 0, 0), (2, 0, 1, 0),
    (1, 0, 1, 0), (1, 0, 1, 1), (3, 1, 0, 0), (3, 1, 1, 0), (11, 2, 0, 0),
    (4, 1, 0, 0), (0, 0, 0, 0), (6, 0, 1, 0), (0, 0, 0, 1), (2, 0, 1, 1),
    (7, 0, 0, 1), (2, 0, 0, 1), (0, 1, 1, 0), (6, 0, 0, 1), (10, 2, 0, 0),
    (6, 0, 0, 0), (3, 0, 0, 0), (11, 1, 0, 0), (4, 1, 1, 0), (3, 0, 1, 0),
    (0, 0, 1, 1), (4, 0, 0, 0), (5, 0, 1, 0), (0, 0, 1, 0), (7, 0, 1, 0),
    (11, 1, 1, 0), (7, 0, 0, 0), (10, 1, 0, 0), (12, 2, 0, 0), (6, 1, 0, 1),
    (7, 1, 0, 1), (4, 0, 0, 1), (3, 0, 0, 1), (3, 0, 1, 1), (4, 0, 1, 0),
    (6, 1, 0, 0), (11, 0, 0, 0), (8, 0, 0, 1), (5, 0, 0, 1), (14, 2, 0, 0),
    (5, 0, 0, 0), (12, 1, 0, 0), (10, 1, 1, 0), (4, 0, 1, 1), (12, 1, 1, 0),
    (7, 1, 0, 0), (11, 0, 1, 0), (10, 0, 0, 0), (13, 2, 0, 0), (10, 0, 0, 1),
    (11, 0, 0, 1), (9, 0, 1, 0), (8, 0, 1, 0), (6, 2, 0, 0), (8, 0, 0, 0),
    (9, 0, 0, 1), (14, 1, 0, 0), (5, 1, 0, 1), (16, 0, 1, 1), (8, 1, 0, 1),
    (5, 1, 0, 0), (12, 0, 0, 0), (7, 2, 0, 0), (12, 0, 1, 0), (10, 0, 1, 0),
    (9, 0, 0, 0), (13, 1, 0, 0), (16, 0, 0, 1), (15, 0, 1, 1), (15, 0, 1, 0),
    (16, 0, 1, 0), (14, 1, 1, 0), (13, 1, 1, 0), (5, 2, 0, 0), (8, 1, 0, 0),
    (14, 0, 0, 0), (9, 1, 0, 1), (14, 0, 0, 1), (17, 0, 0, 1), (12, 0, 0, 1),
    (16, 0, 0, 0), (17, 0, 1, 1), (15, 0, 0, 1), (16, 1, 0, 1), (9, 1, 0, 0),
    (15, 0, 0, 0), (13, 0, 0, 0), (8, 2, 0, 0), (13, 0, 1, 0), (17, 1, 0, 1),
    (19, 0, 1, 0), (14, 0, 1, 0), (19, 0, 1, 1), (17, 0, 1, 0), (13, 0, 0, 1),
    (17, 0, 0, 0), (16, 1, 0, 0), (9, 2, 0, 0), (15, 1, 0, 1), (15, 1, 0, 0),
    (18, 0, 1, 1), (18, 0, 0, 1), (19, 0, 0, 1), (17, 1, 0, 0), (19, 0, 0, 0),
    (18, 0, 1, 0), (18, 1, 0, 1), (19, 2, 0, 0), (19, 1, 0, 0), (18, 0, 0, 0),
    (19, 1, 0, 1), (18, 1, 0, 0),
]

PENTAGON_BASE_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

# pentagon base cell -> the two faces whose chart is a CLOCKWISE offset of
# the cell's canonical system (leading-K adjustment direction); the polar
# pentagons (4, 117) have none — their five charts are all ccw offsets
_PENT_CW_OFFSET_FACES = {
    14: (2, 6), 24: (1, 5), 38: (3, 7), 49: (0, 9), 58: (4, 8),
    63: (11, 15), 72: (12, 16), 83: (10, 19), 97: (13, 17), 107: (14, 18),
    4: (), 117: (),
}

NUM_BASE_CELLS = 122
MAX_RES = 15

_SQRT7 = 2.6457513110645905905016157536392604257102
_RES0_U_GNOMONIC = 0.38196601125010500003
_AP7_ROT_RADS = 0.333473172251832115336090755351601070065900389
_SIN60 = 0.8660254037844386467637231707529361834714

# digit rotation maps: CENTER=0 K=1 J=2 JK=3 I=4 IK=5 IJ=6
_ROT_CCW = np.array([0, 5, 3, 1, 6, 4, 2], dtype=np.int64)
_ROT_CW = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)

# unit ijk -> digit ( (i<<2)|(j<<1)|k for unit coords )
_UNIT_TO_DIGIT = np.full(8, -1, dtype=np.int64)
for _d, (_i, _j, _k) in enumerate(
    [(0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (1, 0, 0), (1, 0, 1), (1, 1, 0)]
):
    _UNIT_TO_DIGIT[(_i << 2) | (_j << 1) | _k] = _d


# ---------------------------------------------------------------------------
# spherical helpers (vectorized)
# ---------------------------------------------------------------------------


def _geo_to_xyz(lat, lng):
    clat = np.cos(lat)
    return np.stack([clat * np.cos(lng), clat * np.sin(lng), np.sin(lat)], axis=-1)


_FACE_XYZ = _geo_to_xyz(FACE_CENTER_GEO[:, 0], FACE_CENTER_GEO[:, 1])


def _pos_angle(a):
    return np.mod(a, 2.0 * np.pi)


def _azimuth(lat1, lng1, lat2, lng2):
    """Initial bearing from point 1 to point 2 (radians cw from north)."""
    dl = lng2 - lng1
    return np.arctan2(
        np.cos(lat2) * np.sin(dl),
        np.cos(lat1) * np.sin(lat2) - np.sin(lat1) * np.cos(lat2) * np.cos(dl),
    )


def _geo_az_distance(lat1, lng1, az, dist):
    """Forward geodesic on the unit sphere."""
    lat2 = np.arcsin(
        np.sin(lat1) * np.cos(dist) + np.cos(lat1) * np.sin(dist) * np.cos(az)
    )
    lng2 = lng1 + np.arctan2(
        np.sin(az) * np.sin(dist) * np.cos(lat1),
        np.cos(dist) - np.sin(lat1) * np.sin(lat2),
    )
    return lat2, lng2


# ---------------------------------------------------------------------------
# gnomonic face projection
# ---------------------------------------------------------------------------


def _closest_face(xyz):
    """Index of the nearest icosahedron face center for each unit vector."""
    return np.argmax(xyz @ _FACE_XYZ.T, axis=-1)


def _geo_to_hex2d(lat, lng, res, face=None):
    """Project to the given (or closest) face's class-II/III hex plane at
    ``res``; returns (face, x, y)."""
    xyz = _geo_to_xyz(lat, lng)
    if face is None:
        face = _closest_face(xyz)
    fc = FACE_CENTER_GEO[face]
    cosd = np.clip(np.einsum("...i,...i->...", xyz, _FACE_XYZ[face]), -1.0, 1.0)
    r = np.arccos(cosd)
    az = _pos_angle(_azimuth(fc[..., 0], fc[..., 1], lat, lng))
    theta = _pos_angle(FACE_AXES_AZ_I[face] - az)
    if res % 2 == 1:  # class III
        theta = _pos_angle(theta - _AP7_ROT_RADS)
    rr = np.tan(r) / _RES0_U_GNOMONIC * _SQRT7 ** res
    rr = np.where(r < 1e-16, 0.0, rr)
    return face, rr * np.cos(theta), rr * np.sin(theta)


def _hex2d_to_geo(x, y, face, res):
    """Inverse projection: hex2d on ``face`` at ``res`` -> (lat, lng)."""
    r = np.hypot(x, y)
    theta = np.arctan2(y, x)
    r = np.arctan(r * _RES0_U_GNOMONIC / _SQRT7 ** res)
    if res % 2 == 1:
        theta = _pos_angle(theta + _AP7_ROT_RADS)
    az = _pos_angle(FACE_AXES_AZ_I[face] - theta)
    fc = FACE_CENTER_GEO[face]
    lat, lng = _geo_az_distance(fc[..., 0], fc[..., 1], az, r)
    small = r < 1e-16
    lat = np.where(small, fc[..., 0], lat)
    lng = np.where(small, fc[..., 1], lng)
    return lat, lng


# ---------------------------------------------------------------------------
# hex grid <-> ijk (vectorized ports of the published aperture-7 math)
# ---------------------------------------------------------------------------


def _ijk_normalize(i, j, k):
    m = np.minimum(np.minimum(i, j), k)
    return i - m, j - m, k - m


def _hex2d_to_ijk(x, y):
    """Round planar hex coordinates to the containing cell's ijk+ coords."""
    a1, a2 = np.abs(x), np.abs(y)
    x2 = a2 / _SIN60
    x1 = a1 + x2 / 2.0
    m1 = np.floor(x1).astype(np.int64)
    m2 = np.floor(x2).astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2

    i = np.zeros_like(m1)
    j = np.zeros_like(m2)

    # the published rounding ladder, branch-free over the four r1 bands
    b0 = r1 < 0.5
    b00 = b0 & (r1 < 1.0 / 3.0)
    b01 = b0 & ~b00
    b1 = ~b0
    b10 = b1 & (r1 < 2.0 / 3.0)
    b11 = b1 & ~b10

    # r1 < 1/3
    j = np.where(b00, np.where(r2 < (1.0 + r1) / 2.0, m2, m2 + 1), j)
    i = np.where(b00, m1, i)
    # 1/3 <= r1 < 1/2
    j = np.where(b01, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(b01, np.where(((1.0 - r1) <= r2) & (r2 < 2.0 * r1), m1 + 1, m1), i)
    # 1/2 <= r1 < 2/3
    j = np.where(b10, np.where(r2 < (1.0 - r1), m2, m2 + 1), j)
    i = np.where(b10, np.where((2.0 * r1 - 1.0 < r2) & (r2 < 1.0 - r1), m1, m1 + 1), i)
    # r1 >= 2/3
    j = np.where(b11, np.where(r2 < r1 / 2.0, m2, m2 + 1), j)
    i = np.where(b11, m1 + 1, i)

    # fold across the axes for negative x / y
    neg_x = x < 0.0
    j_even = (j % 2) == 0
    axis_i = np.where(j_even, j // 2, (j + 1) // 2)
    diff = i - axis_i
    i = np.where(neg_x, i - 2 * diff - np.where(j_even, 0, 1), i)
    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)

    k = np.zeros_like(i)
    return _ijk_normalize(i, j, k)


def _ijk_to_hex2d(i, j, k):
    ii = i - k
    jj = j - k
    return ii - 0.5 * jj, jj * _SIN60


def _up_ap7(i, j, k, class_iii):
    """Aggregate res-r ijk to its res-(r-1) containing cell (class II or
    III variant). Values are integer/7 so any round-half rule is exact."""
    ii = i - k
    jj = j - k
    if class_iii:  # ccw aperture step
        ni = np.round((3.0 * ii - jj) / 7.0).astype(np.int64)
        nj = np.round((ii + 2.0 * jj) / 7.0).astype(np.int64)
    else:  # cw (reverse) aperture step
        ni = np.round((2.0 * ii + jj) / 7.0).astype(np.int64)
        nj = np.round((3.0 * jj - ii) / 7.0).astype(np.int64)
    return _ijk_normalize(ni, nj, np.zeros_like(ni))


def _down_ap7(i, j, k, class_iii):
    """Express a res-(r-1) cell center in res-r ijk coordinates."""
    if class_iii:  # ccw: iVec (3,0,1), jVec (1,3,0), kVec (0,1,3)
        ni = 3 * i + 1 * j + 0 * k
        nj = 0 * i + 3 * j + 1 * k
        nk = 1 * i + 0 * j + 3 * k
    else:  # cw: iVec (3,1,0), jVec (0,3,1), kVec (1,0,3)
        ni = 3 * i + 0 * j + 1 * k
        nj = 1 * i + 3 * j + 0 * k
        nk = 0 * i + 1 * j + 3 * k
    return _ijk_normalize(ni, nj, nk)


# NOTE on class II/III orientation: _up_ap7(class_iii=False) pairs with
# _down_ap7(class_iii=False) as the CW-aperture step and the class_iii=True
# variants as CCW; _faceijk digit aggregation below picks the variant per
# resolution parity exactly as the published algorithm does.


# ---------------------------------------------------------------------------
# digit canonicalization: pentagon leading-K fix + chart rotation
# ---------------------------------------------------------------------------


_IS_PENT = np.zeros(NUM_BASE_CELLS, dtype=bool)
_IS_PENT[list(PENTAGON_BASE_CELLS)] = True

_CW_OFFSET = np.zeros((NUM_BASE_CELLS, 20), dtype=bool)
for _c, _faces in _PENT_CW_OFFSET_FACES.items():
    for _f in _faces:
        _CW_OFFSET[_c, _f] = True


def _leading_nonzero(digits, res):
    """First nonzero digit value per row of an (n, res) digit matrix
    (0 when all digits are zero)."""
    nz = digits != 0
    first = np.argmax(nz, axis=1)
    has = nz.any(axis=1)
    return np.where(has, digits[np.arange(len(digits)), first], 0)


def _rotate_digits(digits, mask, table):
    digits[mask] = table[digits[mask]]
    return digits


def _rotate_pent60ccw(digits, mask, res):
    """Pentagon ccw rotation with deleted-k-subsequence skip: rotate all
    digits; if the leading nonzero digit became K, rotate once more."""
    digits = _rotate_digits(digits, mask, _ROT_CCW)
    lead = _leading_nonzero(digits, res)
    again = mask & (lead == 1)
    return _rotate_digits(digits, again, _ROT_CCW)


def _digits_on_face(lat, lng, face, res):
    """Digit extraction with the chart FORCED to ``face``: returns the
    res-0 (i, j, k) the point aggregates to on that chart plus the (n,
    res) digit matrix. Used by the hot path (with the closest face) and
    by scripts/gen_h3_tables.py (with both candidate charts)."""
    face_arr = np.broadcast_to(np.asarray(face), np.shape(lat)).astype(np.int64)
    _, x, y = _geo_to_hex2d(lat, lng, res, face=face_arr)
    i, j, k = _hex2d_to_ijk(x, y)
    digits = np.zeros((np.shape(lat)[0], res), dtype=np.int64)
    for r in range(res, 0, -1):
        li, lj, lk = i, j, k
        class_iii = (r % 2) == 1
        i, j, k = _up_ap7(i, j, k, class_iii)
        ci, cj, ck = _down_ap7(i, j, k, class_iii)
        di, dj, dk = _ijk_normalize(li - ci, lj - cj, lk - ck)
        key = (di << 2) | (dj << 1) | dk
        digits[:, r - 1] = np.where(
            (key >= 0) & (key < 8), _UNIT_TO_DIGIT[np.clip(key, 0, 7)], -1
        )
    return (i, j, k), digits


def _canonical_digits(digits, cell, face, rot, res, cw_override=None):
    """Apply the pentagon leading-K fix + ``rot`` ccw rotations to a digit
    matrix computed on ``face`` for base cell ``cell`` (the tail of the
    published _faceIjkToH3), returning canonical digits. ``cw_override``
    (scripts/gen_h3_tables.py) replaces the _CW_OFFSET table lookup."""
    digits = digits.copy()
    n = len(digits)
    pent = np.broadcast_to(_IS_PENT[cell], (n,))
    lead = _leading_nonzero(digits, res)
    fix = pent & (lead == 1)
    if cw_override is None:
        cw = fix & np.broadcast_to(_CW_OFFSET[cell, face], (n,))
    else:
        cw = fix & np.broadcast_to(np.asarray(cw_override), (n,))
    digits = _rotate_digits(digits, cw, _ROT_CW)
    digits = _rotate_digits(digits, fix & ~cw, _ROT_CCW)
    rot_arr = np.broadcast_to(np.asarray(rot), (n,)).copy()
    for _ in range(int(rot_arr.max()) if n else 0):
        m = rot_arr > 0
        digits = _rotate_pent60ccw(digits, m & pent, res)
        digits = _rotate_digits(digits, m & ~pent, _ROT_CCW)
        rot_arr = rot_arr - m.astype(np.int64)
    return digits


# ---------------------------------------------------------------------------
# embedded derived tables (printed by scripts/gen_h3_tables.py; verified
# against a fresh derivation in tests/test_h3.py — embedding keeps
# worker-side module import at microseconds instead of seconds)
# ---------------------------------------------------------------------------

_EMB_FACE_BC = "EBIYIR4gMTAyCAUKFhASKSEeBAACDwgFHxYQAgYOCgsRGBcZAAEJBQIGEgoLBAMHCAABEAUCBxUmCRMiDhQkAw0dAQcVBgkTBAwaAAMNAgEHGio6HSs+Ji9ADBwsDRoqFR0rBA8fAwwcBw0aHykxLDU9OkFLDxYhHB8pKiw1BAgQDA8WGhwfMjAxIB4hGBIQRkNCNDIwJSAeU1dVSkZDOTQyGRcYEQsKDgYCLSclIxkXGxELPzs5OC0nLiMZJBQOIhMJJhUHNygbNiQUMyITSDwuSTcoRzYkQC8mPisdOioaVEUzUkAvTD4rYVlHYlRFYFJAS0E6PTUsMSkfXlZMUUtBQj01a2hgZV5WVVFLOTs/Sk5PU1xfJSctNDk7RkpOGBcZICUnMjQ5LjxIOERQP01aGyg3Iy48LThEDhQkERsoGSMuR1lhSVtnSFhpM0VUNkdZN0lbJi9AIjNFJDZHYGhrYm5zYW93TFZeUmBoVGJuOkFLPkxWQFJgVVdTZWZka3ByQkNGUVVXXmVmMTAyPUJDS1FVX1xTT05KPzs5bWxkXV9cTU9OdXZyam1sWl1fWk0/UEQ4SDwual1PY1pNWFBEdW1fcWpdaWNaaVhIZ1tJYVlHcWNQdGlYb2dbdWpaeXFjd3Rpd29hc25ia2hgeXRneHdvcHNudXFpdnl0cnh3cnBrZGZlU1dVdnhzbHJwXGRmdXl3bXZ4X2xy"
_EMB_FACE_ROT = "AAAAAAADAQMAAAUFAAAAAQAAAAUAAQAFAAAAAAAAAAADAQMAAAUFAAAAAQAAAQUAAQAFAAAAAAAAAAADAQMAAAUFAAAAAQAAAgUAAQAFAAAAAAAAAAADAQMAAAUFAAAAAQAAAwUAAQAFAAAAAAAAAAADAQMAAAUFAAAAAQAABAUAAQAFAAAAAAADAAMDAwMAAAADAwAAAwADAAMAAwAAAAMAAAADAAMDAwMAAAADAwAAAwADAAMAAwAAAAMAAAADAAMDAwMAAAADAwAAAwADAAMAAwAAAAMAAAADAAMDAwMAAAADAwAAAwADAAMAAwAAAAMAAAADAAMDAwMAAAADAwAAAwADAAMAAwAAAAMAAAADAAMDAwMAAAMDAAAAAwADAAMAAwADAAAAAAADAAMDAwMAAAMDAAAAAwADAAMAAwADAAAAAAADAAMDAwMAAAMDAAAAAwADAAMAAwADAAAAAAADAAMDAwMAAAMDAAAAAwADAAMAAwADAAAAAAADAAMDAwMAAAMDAAAAAwADAAMAAwADAAAAAAAAAAADAQMAAAAFAQAAAQAABAUAAQAAAAEAAAAAAAADAQMAAAAFAQAAAQAAAwUAAQAAAAEAAAAAAAADAQMAAAAFAQAAAQAAAgUAAQAAAAEAAAAAAAADAQMAAAAFAQAAAQAAAQUAAQAAAAEAAAAAAAADAQMAAAAFAQAAAQAAAAUAAQAAAAEA"
_EMB_CW = [(4, 0, 0), (4, 1, 0), (4, 2, 0), (4, 3, 0), (4, 4, 0), (14, 2, 1), (14, 6, 1), (14, 11, 0), (24, 1, 1), (24, 5, 1), (24, 10, 0), (38, 3, 1), (38, 7, 1), (38, 12, 0), (49, 0, 1), (49, 9, 1), (49, 14, 0), (58, 4, 1), (58, 8, 1), (58, 13, 0), (63, 6, 0), (63, 11, 1), (63, 15, 1), (72, 7, 0), (72, 12, 1), (72, 16, 1), (83, 5, 0), (83, 10, 1), (83, 19, 1), (97, 8, 0), (97, 13, 1), (97, 17, 1), (107, 9, 0), (107, 14, 1), (107, 18, 1), (117, 15, 0), (117, 16, 0), (117, 17, 0), (117, 18, 0), (117, 19, 0)]
_EMB_DEAD = [(0, 2), (0, 31), (0, 50), (1, 7), (1, 16), (1, 25), (2, 2), (2, 26), (2, 36), (3, 7), (3, 31), (3, 64), (4, 16), (4, 26), (4, 75), (5, 16), (5, 57), (5, 85), (6, 2), (6, 46), (6, 57), (7, 7), (7, 46), (7, 71), (8, 26), (8, 71), (8, 96), (9, 31), (9, 85), (9, 96), (10, 25), (10, 50), (10, 95), (11, 25), (11, 36), (11, 90), (12, 36), (12, 64), (12, 105), (13, 64), (13, 75), (13, 119), (14, 50), (14, 75), (14, 114), (15, 57), (15, 90), (15, 114), (16, 46), (16, 95), (16, 105), (17, 71), (17, 90), (17, 119), (18, 96), (18, 105), (18, 114), (19, 85), (19, 95), (19, 119)]

import base64 as _b64

_FACE_BC = np.frombuffer(
    _b64.b64decode(_EMB_FACE_BC), dtype=np.uint8
).astype(np.int64).reshape(20, 3, 3, 3)
_FACE_ROT = np.frombuffer(
    _b64.b64decode(_EMB_FACE_ROT), dtype=np.uint8
).astype(np.int64).reshape(20, 3, 3, 3)
for _c, _f, _v in _EMB_CW:
    _CW_OFFSET[_c, _f] = bool(_v)
_DEAD_ENTRIES = {(f, c) for f, c in _EMB_DEAD}


# ---------------------------------------------------------------------------
# index assembly
# ---------------------------------------------------------------------------


def latlng_to_cell(lat_deg, lng_deg, res: int) -> np.ndarray:
    """Vectorized geoToH3: degrees lat/lng arrays -> uint64 H3 indexes."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range 0..{MAX_RES}")
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    n = lat.shape[0]

    face = _closest_face(_geo_to_xyz(lat, lng))
    (i, j, k), digits = _digits_on_face(lat, lng, face, res)

    ok = (i <= 2) & (j <= 2) & (k <= 2) & (digits >= 0).all(axis=1)
    ii = np.clip(i, 0, 2)
    jj = np.clip(j, 0, 2)
    kk = np.clip(k, 0, 2)
    bc = _FACE_BC[face, ii, jj, kk]
    rot = _FACE_ROT[face, ii, jj, kk]

    if res > 0:
        digits = _canonical_digits(digits, bc, face, rot, res)

    h = np.full(n, np.uint64(1) << np.uint64(59), dtype=np.uint64)
    h |= np.uint64(res) << np.uint64(52)
    h |= bc.astype(np.uint64) << np.uint64(45)
    fill = np.uint64((1 << 45) - 1)
    for r in range(1, res + 1):
        shift = np.uint64((MAX_RES - r) * 3)
        h |= digits[:, r - 1].astype(np.uint64) << shift
        fill &= ~np.uint64(0x7 << int(shift))
    h |= fill
    return np.where(ok, h, np.uint64(0))


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def h3_cell_col(lat_col: Column, lng_col: Column, res: int = 9) -> Column:
    """H3 cell index as a signed long Column (valid indexes are < 2^63)."""

    @pandas_udf(LongType())
    def _cell(lat: pd.Series, lng: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lng.to_numpy(dtype=np.float64, na_value=np.nan)
        bad = np.isnan(la) | np.isnan(lo)
        out = latlng_to_cell(np.where(bad, 0.0, la), np.where(bad, 0.0, lo), res)
        res_s = pd.Series(out.astype(np.int64))
        res_s[bad] = None
        return res_s

    return _cell(lat_col, lng_col)


def h3_parent_col(cell_col: Column, parent_res: int) -> Column:
    """Parent cell at ``parent_res`` — pure JVM bit math, no UDF, and the
    identical expression runs in DuckDB for the rollup oracles:

        (cell & ~(15::BIGINT << 52)) | (pres << 52) | ones-below-pres
    """
    pres = F.lit(parent_res << 52).cast("long")
    fill = F.lit((1 << ((MAX_RES - parent_res) * 3)) - 1).cast("long")
    return (
        cell_col.bitwiseAND(F.lit(~(0xF << 52)).cast("long"))
        .bitwiseOR(pres)
        .bitwiseOR(fill)
    )


def h3_parent_sql(cell_expr: str, parent_res: int) -> str:
    """The DuckDB-side twin of h3_parent_col for oracle SQL strings."""
    fill = (1 << ((MAX_RES - parent_res) * 3)) - 1
    return (
        f"(({cell_expr} & {~(0xF << 52)}) | {parent_res << 52} | {fill})"
    )


# ---------------------------------------------------------------------------
# cell -> center, neighbors (rings)
# ---------------------------------------------------------------------------


def _truncate_to_res(h: np.ndarray, r: int) -> np.ndarray:
    """Parent index at res r (pure bit math, vectorized uint64)."""
    h = h.astype(np.uint64)
    res_mask = np.uint64(0xF) << np.uint64(52)
    fill = np.uint64((1 << ((MAX_RES - r) * 3)) - 1)
    return (h & ~res_mask) | (np.uint64(r) << np.uint64(52)) | fill


def cell_to_latlng(cells) -> tuple[np.ndarray, np.ndarray]:
    """Exact cell centers (degrees) for an array of H3 indexes.

    Hierarchical candidate descent: start from the base cell's home-chart
    coordinates (exact by definition), and at each finer resolution test
    the 7 aperture-child grid points by running the PRODUCTION
    latlng_to_cell on them — the child whose index truncates to the
    target is the next ancestor. After each step the coordinates are
    re-expressed on the child's closest-face chart, so the walk never
    accumulates gnomonic distortion (the reason a naive home-chart digit
    walk drifts by whole cells at fine resolutions). No overage tables,
    no recalled data: the forward pipeline is the arbiter.

    Cost: 7 forward evaluations per level (vectorized across the input),
    so this is an API for moderate cell sets (ring/kNN query sides,
    plotting, fixtures) — the corpus hot path never needs centers."""
    h = np.asarray(cells, dtype=np.uint64)
    n = len(h)
    valid = h3_is_valid_cells(h)
    if n and not valid.all():
        bad = int(h[np.argmin(valid)])
        raise ValueError(f"cell_to_latlng: invalid H3 index {bad:x}")
    res = ((h >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)
    if n and not (res == res[0]).all():
        raise ValueError("cell_to_latlng: mixed resolutions in one batch")
    r_target = int(res[0]) if n else 0
    bc = ((h >> np.uint64(45)) & np.uint64(0x7F)).astype(np.int64)

    home = np.array(_BASE_CELL_HOME, dtype=np.int64)
    face = home[bc, 0]
    i, j, k = home[bc, 1].copy(), home[bc, 2].copy(), home[bc, 3].copy()

    du = np.array([0, 0, 0, 0, 1, 1, 1], dtype=np.int64)
    dv = np.array([0, 0, 1, 1, 0, 0, 1], dtype=np.int64)
    dw = np.array([0, 1, 0, 1, 0, 1, 0], dtype=np.int64)

    for r in range(1, r_target + 1):
        class_iii = (r % 2) == 1
        ci, cj, ck = _down_ap7(i, j, k, class_iii)
        want = _truncate_to_res(h, r)
        found = np.zeros(n, dtype=bool)
        ni = np.zeros(n, dtype=np.int64)
        nj = np.zeros(n, dtype=np.int64)
        nk = np.zeros(n, dtype=np.int64)
        nf = face.copy()
        glat = np.zeros(n)
        glng = np.zeros(n)
        for d in range(7):
            ti, tj, tk = _ijk_normalize(ci + du[d], cj + dv[d], ck + dw[d])
            x, y = _ijk_to_hex2d(ti, tj, tk)
            lat, lng = _hex2d_to_geo(x, y, face, r)
            idx = latlng_to_cell(np.degrees(lat), np.degrees(lng), r)
            hit = ~found & (idx == want)
            if hit.any():
                ni[hit], nj[hit], nk[hit] = ti[hit], tj[hit], tk[hit]
                glat[hit], glng[hit] = lat[hit], lng[hit]
                found |= hit
            if found.all():
                break
        if not found.all():
            # seam fallback: near a routing boundary the true child's
            # subdivision grid point on THIS chart can physically sit in a
            # neighboring cell. The chart-f coordinate whose grid point
            # lands inside the child then differs by a unit step or two —
            # sweep ring 2 around the center child for the stragglers.
            # (The landing point need not be the canonical center; it is
            # interior to the child, and the closest-face re-rounding
            # below converts interior points to exact chart coordinates.)
            miss = np.where(~found)[0]
            for d2i in range(-2, 3):
                for d2j in range(-2, 3):
                    if found.all():
                        break
                    m = miss[~found[miss]]
                    if not len(m):
                        break
                    ti, tj, tk = _ijk_normalize(ci[m] + d2i, cj[m] + d2j, ck[m])
                    x, y = _ijk_to_hex2d(ti, tj, tk)
                    lat, lng = _hex2d_to_geo(x, y, face[m], r)
                    idx = latlng_to_cell(np.degrees(lat), np.degrees(lng), r)
                    hit = idx == want[m]
                    if hit.any():
                        sel = m[hit]
                        ni[sel], nj[sel], nk[sel] = ti[hit], tj[hit], tk[hit]
                        glat[sel], glng[sel] = lat[hit], lng[hit]
                        found[sel] = True
        if not found.all():
            # last-resort fallback (pentagon folds can displace the true
            # child off this chart entirely): sample the parent's disk —
            # the child occupies part of it — index the samples through
            # production, and take any point landing in the wanted child.
            # The interior point is then re-rounded to exact chart
            # coordinates by the migration step below.
            spacing = 0.4 / _SQRT7 ** r
            rng_fb = np.random.default_rng(5)
            for m in np.where(~found)[0]:
                px, py = _ijk_to_hex2d(i[m : m + 1], j[m : m + 1], k[m : m + 1])
                plat, plng = _hex2d_to_geo(px, py, face[m : m + 1], r - 1)
                # escalating sample rounds: a child sliver pinched between
                # fold charts can occupy <0.1% of the parent disk, so a
                # single fixed-size round occasionally misses it
                hits = np.array([], dtype=np.int64)
                for n_s, radius in ((400, 3.2), (3200, 3.6), (25600, 4.5)):
                    az = rng_fb.uniform(0, 2 * np.pi, n_s)
                    dist = rng_fb.uniform(0, 1, n_s) ** 0.5 * radius * spacing
                    slat, slng = _geo_az_distance(
                        np.float64(plat[0]), np.float64(plng[0]), az, dist
                    )
                    idx = latlng_to_cell(np.degrees(slat), np.degrees(slng), r)
                    hits = np.where(idx == want[m])[0]
                    if len(hits):
                        break
                if len(hits):
                    t = hits[0]
                    pf = int(_closest_face(_geo_to_xyz(slat[t], slng[t])))
                    _, fx, fy = _geo_to_hex2d(
                        slat[t : t + 1], slng[t : t + 1], r,
                        face=np.array([pf]),
                    )
                    fi_, fj_, fk_ = _hex2d_to_ijk(fx, fy)
                    ni[m], nj[m], nk[m] = int(fi_[0]), int(fj_[0]), int(fk_[0])
                    nf[m] = pf
                    # grid point of the found coords = the exact center
                    gx, gy = _ijk_to_hex2d(fi_, fj_, fk_)
                    gl, gn = _hex2d_to_geo(gx, gy, np.array([pf]), r)
                    glat[m], glng[m] = float(gl[0]), float(gn[0])
                    found[m] = True
        if not found.all():
            bad = int((~found).sum())
            raise ValueError(
                f"cell_to_latlng: {bad} cells failed the child descent at "
                f"res {r} (malformed index?)"
            )
        # re-express on each point's closest face so distortion never grows:
        # the center is interior to its cell, so rounding it on its own
        # closest-face chart returns the same cell's coordinates there
        pf = _closest_face(_geo_to_xyz(glat, glng))
        migrate = pf != face
        if migrate.any():
            _, mx, my = _geo_to_hex2d(
                glat[migrate], glng[migrate], r, face=pf[migrate]
            )
            mi, mj, mk = _hex2d_to_ijk(mx, my)
            ni[migrate], nj[migrate], nk[migrate] = mi, mj, mk
            nf[migrate] = pf[migrate]
        face, i, j, k = nf, ni, nj, nk

    x, y = _ijk_to_hex2d(i, j, k)
    lat, lng = _hex2d_to_geo(x, y, face, r_target)

    # ------------------------------------------------------------------
    # verification + repair (fold-adjacent cells). The descent's fallback
    # paths can terminate on a grid point of a NEIGHBORING face's chart
    # that physically lies inside the cell but is not its center (it
    # round-trips, so the want-check can't catch it), and which chart
    # wins was batch-composition dependent. Detector: the true center
    # has all 6 probe points at 0.3 lattice units around it still inside
    # the cell (0.3 < the minimum inscribed radius even at the pentagon
    # distortion extremes); a displaced center sits near an edge and
    # loses probes. Repair: re-round the landing point (interior to the
    # cell, so it rounds to the canonical ijk on the canonical chart) on
    # each of the 3 nearest faces' charts and keep the candidate whose
    # grid point indexes to the cell with the best probe count —
    # production as arbiter, no recalled overage tables.
    # ------------------------------------------------------------------
    if r_target > 0 and n:
        probes = np.zeros(n, dtype=np.int64)
        for ang in range(6):
            t = ang * np.pi / 3.0 + np.pi / 6.0
            qlat, qlng = _hex2d_to_geo(
                x + 0.3 * np.cos(t), y + 0.3 * np.sin(t), face, r_target
            )
            idx = latlng_to_cell(np.degrees(qlat), np.degrees(qlng), r_target)
            probes += (idx == h).astype(np.int64)
        suspect = np.where(probes < 6)[0]
        for m in suspect:
            land = _geo_to_xyz(lat[m], lng[m])
            cand_faces = np.argsort(-(land @ _FACE_XYZ.T))[:3]
            best = (int(probes[m]), None)
            for f in cand_faces:
                fa = np.array([int(f)])
                _, cx, cy = _geo_to_hex2d(
                    lat[m : m + 1], lng[m : m + 1], r_target, face=fa
                )
                ci_, cj_, ck_ = _hex2d_to_ijk(cx, cy)
                gx, gy = _ijk_to_hex2d(ci_, cj_, ck_)
                gla, gln = _hex2d_to_geo(gx, gy, fa, r_target)
                if int(latlng_to_cell(np.degrees(gla), np.degrees(gln), r_target)[0]) != int(h[m]):
                    continue
                cnt = 0
                for ang in range(6):
                    t = ang * np.pi / 3.0 + np.pi / 6.0
                    qla, qln = _hex2d_to_geo(
                        gx + 0.3 * np.cos(t), gy + 0.3 * np.sin(t), fa, r_target
                    )
                    if int(latlng_to_cell(np.degrees(qla), np.degrees(qln), r_target)[0]) == int(h[m]):
                        cnt += 1
                if cnt > best[0]:
                    best = (cnt, (float(gla[0]), float(gln[0])))
            if best[1] is None:
                # the landing point itself sits in a NEIGHBOR cell (the
                # displaced grid point was another chart's lattice point
                # inside a different cell): sample around it, keep the
                # points that index to OUR cell, and take their modal
                # rounded chart coordinates — interior points of a cell
                # round to its canonical (face, ijk) on the canonical
                # chart, so the mode is the center (the same arbiter the
                # bit-compat ground-truth probe used)
                rng_rp = np.random.default_rng(17)
                spacing = 0.4 / _SQRT7 ** r_target
                az = rng_rp.uniform(0, 2 * np.pi, 4000)
                dist = rng_rp.uniform(0, 1, 4000) ** 0.5 * 2.5 * spacing
                sla_, sln_ = _geo_az_distance(
                    float(lat[m]), float(lng[m]), az, dist
                )
                idxs = latlng_to_cell(np.degrees(sla_), np.degrees(sln_), r_target)
                hit = idxs == h[m]
                if hit.any():
                    hf, hx, hy = _geo_to_hex2d(sla_[hit], sln_[hit], r_target)
                    hi_, hj_, hk_ = _hex2d_to_ijk(hx, hy)
                    from collections import Counter

                    modal, _cnt = Counter(
                        zip(hf.tolist(), hi_.tolist(), hj_.tolist(), hk_.tolist())
                    ).most_common(1)[0]
                    mf = np.array([modal[0]])
                    gx, gy = _ijk_to_hex2d(
                        np.int64(modal[1]), np.int64(modal[2]), np.int64(modal[3])
                    )
                    gla, gln = _hex2d_to_geo(
                        np.float64(gx), np.float64(gy), mf, r_target
                    )
                    if int(
                        latlng_to_cell(
                            np.degrees(gla), np.degrees(gln), r_target
                        )[0]
                    ) == int(h[m]):
                        best = (0, (float(gla[0]), float(gln[0])))
            if best[1] is not None:
                lat[m], lng[m] = best[1]

    return np.degrees(lat), np.degrees(lng)


_NEIGHBOR_CACHE: dict[int, set[int]] = {}
_NEIGHBOR_CACHE_MAX = 2_000_000  # eviction threshold (patched down in tests)


def grid_neighbors(cells) -> dict[int, set[int]]:
    """Direct (grid-distance-1) neighbors of each input cell, batched.

    Neighbors are found geometrically from EXACT centers: step one grid
    spacing along the six local hex axes of the cell's closest-face
    chart and index the landing points with the production pipeline —
    interior landings make this exact for hexagons, and pentagon origins
    simply yield their five distinct neighbors (the sixth step lands in
    an already-found cell). Results are memoized (a BFS frontier revisits
    boundary cells of the previous ring)."""
    flat = sorted({int(c) for c in np.asarray(cells, dtype=np.uint64)})
    todo = [c for c in flat if c not in _NEIGHBOR_CACHE]
    if todo:
        fa = np.array(todo, dtype=np.uint64)
        res = int((fa[0] >> np.uint64(52)) & np.uint64(0xF))
        lat, lng = cell_to_latlng(fa)
        latr, lngr = np.radians(lat), np.radians(lng)
        face, x, y = _geo_to_hex2d(latr, lngr, res)
        neigh_of: dict[int, set[int]] = {c: set() for c in todo}
        for ang in range(6):
            t = ang * np.pi / 3.0
            nx = x + np.cos(t)
            ny = y + np.sin(t)
            nlat, nlng = _hex2d_to_geo(nx, ny, face, res)
            idx = latlng_to_cell(np.degrees(nlat), np.degrees(nlng), res)
            for c, v in zip(fa, idx):
                if v != c:
                    neigh_of[int(c)].add(int(v))
        # Capture the answer for the whole batch BEFORE any eviction:
        # previously-cached entries (flat minus todo) would otherwise be
        # lost by clear() and raise KeyError on the return lookup.
        out = {c: _NEIGHBOR_CACHE[c] for c in flat if c in _NEIGHBOR_CACHE}
        out.update(neigh_of)
        if len(_NEIGHBOR_CACHE) > _NEIGHBOR_CACHE_MAX:  # bound driver memory
            _NEIGHBOR_CACHE.clear()
        _NEIGHBOR_CACHE.update(neigh_of)
        return out
    return {c: _NEIGHBOR_CACHE[c] for c in flat}


def grid_rings(cells, k: int = 1) -> list[list[set[int]]]:
    """Per-origin ring structure: out[i][r] = the set of cells at grid
    distance exactly r from origin i, for r in 0..k. BFS over the batched
    ``grid_neighbors`` step."""
    h = np.asarray(cells, dtype=np.uint64)
    rings = [[set([int(c)])] for c in h]
    seen = [set([int(c)]) for c in h]
    frontier = [set([int(c)]) for c in h]
    for _ in range(k):
        flat = {c for s in frontier for c in s}
        if not flat:
            for m in range(len(h)):
                rings[m].append(set())
            continue
        neigh_of = grid_neighbors(np.array(sorted(flat), dtype=np.uint64))
        nxt = [set() for _ in h]
        for m, s in enumerate(frontier):
            for c in s:
                nxt[m] |= neigh_of[c]
            nxt[m] -= seen[m]
            seen[m] |= nxt[m]
            rings[m].append(nxt[m])
        frontier = nxt
    return rings


def grid_disk(cells, k: int = 1) -> list[set[int]]:
    """k-ring neighborhoods (grid_disk semantics: all cells within k grid
    steps, origin included) for an array of same-resolution H3 indexes."""
    out = []
    for per_origin in grid_rings(cells, k):
        s: set[int] = set()
        for ring in per_origin:
            s |= ring
        out.append(s)
    return out


# --- H3 reach calibration (scripts/gen_h3_reach.py) ----------------------
# Per res: [R_max_km, D_min[1], ..., D_min[16]]. D_min[g] is the minimum
# center-to-center distance at grid distance exactly g; R_max the maximum
# point-to-cell-center offset (boundary circumradius and direct point
# sampling, maxed). Reader: polygon_cover_cells' edge-sample step, through
# D_min[1], the minimum cell width. (kNN needs no distance bound: knn_h3
# searches whole grid_disk neighborhoods.)
#
# PROVENANCE (round 5, gen_h3_reach.py --exact):
#  - res 0-2: EXHAUSTIVE — every cell of the res swept as origin, all 16
#    rings; these rows are exact measurements, not samples.
#  - res 3-5: every distortion extreme swept — ALL cells crossed by any
#    of the 30 icosahedron edges (slerp-sampled at 1/5 cell spacing) +
#    pentagon disk-3 + dense random controls; merged conservatively with
#    the round-4 sampled rows (min per D entry, max for R_max).
#  - res 6-15: round-4 sampling (pentagon disk-2 + 30 seam midpoints +
#    controls). Scaling argument: every exhaustive/extreme sweep found
#    every ring minimum g=1..4 attained INSIDE the pentagon region
#    (logged per res), and aperture-7 subdivision is self-similar within
#    a face — finer res reproduce the same extreme neighborhoods scaled
#    by 1/sqrt(7) per level, so the sampled extremes are where the minima
#    live there too; _REACH_D_MARGIN covers the residual.
_EMB_REACH: dict[int, list[float]] = {
    0: [1382.85327, 1831.62879, 3479.24282, 5358.4559, 7053.65422, 8885.28301, 10716.9118, 13041.4625, 15366.0131, 17690.5638, 20015.1143, float('inf'), float('inf'), float('inf'), float('inf'), float('inf'), float('inf')],
    1: [529.810512, 638.728128, 1140.67039, 1779.31301, 2459.09407, 3161.85346, 3880.98668, 4655.06433, 5426.65299, 6211.29788, 6957.34524, 7619.49912, 8238.83429, 8914.10501, 9598.17023, 10354.1037, 11118.3514],
    2: [200.646101, 225.36969, 423.137645, 638.728128, 860.169129, 1095.03109, 1327.22054, 1566.34761, 1812.41481, 2058.92158, 2317.38064, 2576.46564, 2836.49715, 3107.57209, 3379.29648, 3652.16268, 3930.70086],
    3: [75.8465138, 86.3352698, 147.678335, 225.36969, 300.360892, 378.200031, 458.121974, 537.555618, 621.016001, 702.548755, 788.749813, 872.941102, 959.198208, 1047.08859, 1134.88932, 1222.82652, 1312.37976],
    4: [28.6730099, 31.4793819, 58.4751814, 86.3352698, 116.482703, 145.016652, 174.292122, 204.749568, 233.794722, 263.882195, 294.372455, 324.322928, 355.114978, 385.773681, 416.537067, 447.512255, 478.785168],
    5: [10.8374065, 12.2348246, 20.7938118, 31.4793819, 41.6882005, 52.0734563, 62.6834446, 72.968987, 83.779817, 94.0332102, 104.791252, 115.229656, 125.916656, 136.544422, 147.19454, 157.971149, 168.606261],
    6: [4.05600355, 4.48258739, 8.31340497, 12.2348246, 16.4541033, 20.4524519, 24.5025102, 28.6921157, 32.711441, 36.8030981, 40.9880412, 45.0194134, 49.1366287, 53.2986946, 57.3660961, 61.5031417, 65.6511884],
    7: [1.54023813, 1.74582177, 2.96439751, 4.48258739, 5.93084265, 7.39979954, 8.89933625, 10.347691, 11.8698791, 13.3072591, 14.8126636, 16.2732577, 17.7621001, 19.2436649, 20.7208016, 22.2175377, 23.6860708],
    8: [0.584948446, 0.640074841, 1.18680956, 1.74582177, 2.34680202, 2.91640552, 3.49231345, 4.08757124, 4.65910959, 5.23947514, 5.83258053, 6.4047782, 6.98730699, 7.57742958, 8.15193806, 8.7358091, 9.32286709],
    9: [0.221118182, 0.2493621, 0.423360026, 0.640074841, 0.846761825, 1.0563149, 1.2702054, 1.47668674, 1.69369075, 1.89847559, 2.11289618, 2.32093191, 2.53285777, 2.74376675, 2.95389156, 3.16684527, 3.3756121],
    10: [0.0835120696, 0.0914332481, 0.169527495, 0.2493621, 0.335180256, 0.416519759, 0.49873787, 0.583708341, 0.665302593, 0.74812731, 0.832760089, 0.914426878, 0.99753042, 1.08174268, 1.16368213, 1.2469472, 1.33070001],
    11: [0.0315452632, 0.03562232, 0.0604774459, 0.0914332481, 0.120955745, 0.150885822, 0.181434896, 0.210923532, 0.241914899, 0.271158558, 0.30177708, 0.331483819, 0.361743332, 0.391858037, 0.421857636, 0.452261949, 0.48206493],
    12: [0.0119365268, 0.0130617695, 0.0242178719, 0.03562232, 0.0478813185, 0.0595005859, 0.0712449193, 0.0833822042, 0.0950374221, 0.106867798, 0.118956225, 0.130621363, 0.142490955, 0.154519422, 0.16622234, 0.178114391, 0.19007678],
    13: [0.00449869312, 0.00508888547, 0.00863958268, 0.0130617696, 0.0172791831, 0.0215547844, 0.0259188008, 0.0301312857, 0.034558436, 0.0387358706, 0.0431096801, 0.0473532418, 0.0516757108, 0.0559775025, 0.0602627875, 0.0646059008, 0.0688630439],
    14: [0.0017045135, 0.00186596427, 0.00345968875, 0.00508888549, 0.00684015592, 0.00850003776, 0.010177777, 0.0119116472, 0.0135766558, 0.0152666742, 0.0169935522, 0.018659969, 0.0203555771, 0.0220738917, 0.0237456817, 0.0254444857, 0.0271533515],
    15: [0.000641776728, 0.000726982987, 0.00123422477, 0.00186596431, 0.00246845021, 0.00307924787, 0.00370267599, 0.00430445593, 0.00493690213, 0.0055336738, 0.0061584983, 0.00676471614, 0.00738220522, 0.00799674058, 0.00860891656, 0.00922935396, 0.00983750859],
}

_REACH_D_MARGIN = 0.98   # measured minima shrink: unswept distortion slack


def cell_to_boundary(cells) -> list[np.ndarray]:
    """Cell boundary polygons (reference surface: h3geo cellToBoundary).

    Returns one (n_verts, 2) float array of (lat_deg, lng_deg) rows per
    input cell, in counter-clockwise order — 6 vertices for hexagons, 5
    for pentagons.

    Each vertex is the shared corner of three mutually-adjacent cells and
    is computed as the centroid of their three exact centers in hex2d
    coordinates of a COMMON chart (the face closest to the 3-center mean
    direction — a symmetric, deterministic choice). On a single face the
    hex lattice is perfectly regular, so the 3-center centroid IS the
    exact corner; the chart choice being symmetric in the three owners
    means adjacent cells reproduce the shared vertex bit-identically, so
    the tiling is WATERTIGHT by construction (gate: the spherical areas
    of all res-1 cells sum to exactly 4*pi). Near icosahedron seams the
    true H3 boundary adds gnomonic distortion vertices on the face edge
    which this construction smooths through — documented approximation;
    the watertight property and center containment still hold.

    Driver-side numpy over moderate cell sets (rendering, PIP covers,
    reach calibration) — same contract as cell_to_latlng."""
    h = np.asarray(cells, dtype=np.uint64)
    if not len(h):
        return []
    disks = grid_disk(h, 1)
    all_cells = np.array(
        sorted({int(c) for c in h} | {c for s in disks for c in s}),
        dtype=np.uint64,
    )
    alat, alng = cell_to_latlng(all_cells)
    pos = {int(c): i for i, c in enumerate(all_cells)}
    axyz = _geo_to_xyz(np.radians(alat), np.radians(alng))
    res = int((h[0] >> np.uint64(52)) & np.uint64(0xF))

    out: list[np.ndarray] = []
    for ci, c in enumerate(h):
        c = int(c)
        neigh = sorted(disks[ci] - {c})
        ic = pos[c]
        # order neighbors counter-clockwise by azimuth from the center
        az = np.array(
            [
                _azimuth(
                    np.radians(alat[ic]), np.radians(alng[ic]),
                    np.radians(alat[pos[n]]), np.radians(alng[pos[n]]),
                )
                for n in neigh
            ]
        )
        order = np.argsort(-az)  # azimuth is clockwise-from-north; negate for CCW
        ring = [neigh[o] for o in order]
        verts = []
        for vi in range(len(ring)):
            a, b = ring[vi], ring[(vi + 1) % len(ring)]
            trip = np.array([ic, pos[a], pos[b]])
            mean = axyz[trip].mean(axis=0)
            mean /= np.linalg.norm(mean)
            vface = int(_closest_face(mean[None, :])[0])
            _, x2, y2 = _geo_to_hex2d(
                np.radians(alat[trip]), np.radians(alng[trip]), res,
                face=np.full(3, vface),
            )
            vlat, vlng = _hex2d_to_geo(
                np.float64(x2.mean()), np.float64(y2.mean()), vface, res
            )
            verts.append((np.degrees(float(vlat)), np.degrees(float(vlng))))
        out.append(np.array(verts, dtype=np.float64))
    return out


def cell_area_km2(cells) -> np.ndarray:
    """Spherical area (km^2) of each cell, computed from its boundary
    polygon by the signed-triangle-fan excess formula (reference
    surface: h3geo cellAreaKm2). The boundary construction is watertight,
    so areas over any full tiling sum to exactly 4*pi*R^2 (gated in
    tests at res 1); R = 6371.0088 km (IUGG mean, the same radius the
    distance helpers use)."""
    earth_r = 6371.0088
    out = np.empty(len(np.asarray(cells, dtype=np.uint64)), dtype=np.float64)
    for i, b in enumerate(cell_to_boundary(cells)):
        v = np.radians(b)
        xyz = np.stack(
            [
                np.cos(v[:, 0]) * np.cos(v[:, 1]),
                np.cos(v[:, 0]) * np.sin(v[:, 1]),
                np.sin(v[:, 0]),
            ],
            axis=1,
        )
        c = xyz.mean(axis=0)
        c /= np.linalg.norm(c)
        total = 0.0
        n = len(xyz)
        for j in range(n):
            a, b2 = xyz[j], xyz[(j + 1) % n]
            num = np.dot(c, np.cross(a, b2))
            den = 1.0 + np.dot(c, a) + np.dot(a, b2) + np.dot(b2, c)
            total += 2.0 * np.arctan2(num, den)
        out[i] = abs(total) * earth_r * earth_r
    return out


def polygon_to_cells(ring_xy, res: int, ring_offsets=None) -> np.ndarray:
    """polygonToCells (center-containment polyfill): all cells at ``res``
    whose CENTER lies inside the polygon — H3's published fill semantics.

    ring_xy: flat [x0, y0, x1, y1, ...] (lon/lat degrees) outer ring,
    optionally followed by hole rings delimited by ``ring_offsets``
    (FIXTURES.md §4 packed-polygon layout, same as the PIP operator).

    Candidate cells come from a lat/lon sample lattice over the bbox with
    step < the minimum cell width, so every cell intersecting the bbox is
    hit by at least one sample; exact centers (cell_to_latlng) then go
    through the same even-odd ray cast the PIP join uses. Driver-side
    numpy — polygons are the small side by contract (the PIP pattern);
    the result is the broadcastable (cell -> polygon) index."""
    xy = np.asarray(ring_xy, dtype=np.float64)
    offs = list(ring_offsets) if ring_offsets is not None else [0, len(xy)]
    xs_all = xy[0::2]
    ys_all = xy[1::2]
    minx, maxx = xs_all.min(), xs_all.max()
    miny, maxy = ys_all.min(), ys_all.max()

    # sample step: min cell width at res in degrees latitude, with margin.
    # 0.4/sqrt7^res rad is the average center spacing; x0.5 covers the
    # worst-case distorted (smallest) cells
    step_deg = np.degrees(0.4 / _SQRT7 ** res) * 0.5
    pad = step_deg
    gx = np.arange(minx - pad, maxx + pad, step_deg)
    gy = np.arange(miny - pad, maxy + pad, step_deg)
    if len(gx) * len(gy) > 30_000_000:
        raise ValueError(
            "polygon_to_cells: bbox x res implies >30M samples; use a "
            "coarser res or split the polygon"
        )
    mlon, mlat = np.meshgrid(gx, gy)
    cand = np.unique(latlng_to_cell(mlat.ravel(), mlon.ravel(), res))

    clat, clng = cell_to_latlng(cand)

    def _inside(px, py):
        inside = np.zeros(len(px), dtype=bool)
        for ri in range(len(offs) - 1):
            ring = xy[offs[ri] : offs[ri + 1]]
            rx = ring[0::2]
            ry = ring[1::2]
            x2 = np.roll(rx, -1)
            y2 = np.roll(ry, -1)
            for e in range(len(rx)):
                straddle = (ry[e] > py) != (y2[e] > py)
                if not straddle.any():
                    continue
                xi = rx[e] + (py[straddle] - ry[e]) / (y2[e] - ry[e]) * (
                    x2[e] - rx[e]
                )
                upd = np.zeros(len(px), dtype=bool)
                upd[straddle] = xi > px[straddle]
                inside ^= upd
        return inside

    keep = _inside(clng, clat)
    return cand[keep]


def polygon_cover_cells(ring_xy, res: int, ring_offsets=None) -> np.ndarray:
    """SUPERSET cover: every cell that INTERSECTS the polygon (vs the
    center-containment semantics of ``polygon_to_cells``) — the candidate
    index a PIP join needs, since a point can sit in a cell whose center
    is outside the polygon.

    Construction, provably covering:
    - interior cells: center-containment polyfill (a fully-inside cell
      has its center inside);
    - boundary cells: every polygon edge is sampled at a step below half
      the minimum cell width (D_min[1] from the reach calibration), and
      the disk-1 of each sample's cell is added. A segment between two
      consecutive samples is shorter than the minimum cell width, so any
      cell it crosses cannot be fully traversed and must touch the first
      sample's cell — and in a hex tiling three cells meet at every
      vertex, all pairwise edge-adjacent, so "touches" implies grid
      distance <= 1. Vertices are sample points themselves.
    """
    xy = np.asarray(ring_xy, dtype=np.float64)
    offs = list(ring_offsets) if ring_offsets is not None else [0, len(xy)]
    fill = polygon_to_cells(xy, res, ring_offsets=offs)

    step_km = 0.5 * _EMB_REACH[res][1] * _REACH_D_MARGIN
    slat, slng = [], []
    for ri in range(len(offs) - 1):
        ring = xy[offs[ri] : offs[ri + 1]]
        rx, ry = ring[0::2], ring[1::2]
        x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
        for e in range(len(rx)):
            seg_km = float(
                np.hypot(
                    (y2[e] - ry[e]) * 111.19492664455873,
                    (x2[e] - rx[e])
                    * 111.19492664455873
                    * max(np.cos(np.radians((ry[e] + y2[e]) / 2)), 0.05),
                )
            )
            n = max(2, int(np.ceil(seg_km / step_km)) + 1)
            t = np.linspace(0.0, 1.0, n)
            slng.append(rx[e] + t * (x2[e] - rx[e]))
            slat.append(ry[e] + t * (y2[e] - ry[e]))
    scells = np.unique(
        latlng_to_cell(np.concatenate(slat), np.concatenate(slng), res)
    )
    edge: set[int] = set()
    for d in grid_disk(scells, 1):
        edge |= d
    return np.array(sorted({int(c) for c in fill} | edge), dtype=np.uint64)


def uncompact_cells(cells, res: int) -> set[int]:
    """All res-``res`` descendants of each (coarser or equal) cell — pure
    index math: append every digit combination, skipping the deleted K
    child inside pentagon subtrees (a cell whose digits are all zero in a
    pentagon base cell is itself a pentagon and has six children)."""
    out: set[int] = set()

    def children(h: int) -> list[int]:
        r = h3_get_resolution(h)
        pent = h3_is_pentagon(h)
        base = h & ~(0xF << 52) | ((r + 1) << 52)
        shift = (MAX_RES - (r + 1)) * 3
        kids = []
        for d in range(7):
            if pent and d == 1:
                continue  # deleted K subsequence
            kids.append((base & ~(0x7 << shift)) | (d << shift))
        return kids

    stack = [int(c) for c in cells]
    est = 0
    for h in stack:
        r0 = h3_get_resolution(h)
        if r0 > res:
            raise ValueError("uncompact_cells: cell finer than target res")
        est += 7 ** (res - r0)
    if est > 10_000_000:
        raise ValueError(
            f"uncompact_cells: ~{est} output cells; refuse to materialize "
            ">10M driver-side"
        )
    while stack:
        h = stack.pop()
        if h3_get_resolution(h) == res:
            out.add(h)
        else:
            stack.extend(children(h))
    return out


def h3_get_resolution(h: int) -> int:
    return (h >> 52) & 0xF


def h3_base_cell(h: int) -> int:
    return (h >> 45) & 0x7F

def h3_digit(h: int, r: int) -> int:
    return (h >> ((MAX_RES - r) * 3)) & 0x7


def h3_is_pentagon(h: int) -> bool:
    if not _IS_PENT[h3_base_cell(h)]:
        return False
    res = h3_get_resolution(h)
    return all(h3_digit(h, r) == 0 for r in range(1, res + 1))


def h3_is_valid_cells(cells) -> np.ndarray:
    """Vectorized structural validity (reference surface: h3geo
    isValidCell): high bit 0, mode 1, reserved bits 0, base cell < 122,
    digits 1..res in 0..6, digits past res all 7, and in pentagon base
    cells the leading nonzero digit is never K=1 (deleted subsequence)."""
    h = np.asarray(cells, dtype=np.uint64)
    res = ((h >> np.uint64(52)) & np.uint64(0xF)).astype(np.int64)
    bc = ((h >> np.uint64(45)) & np.uint64(0x7F)).astype(np.int64)
    ok = (
        ((h >> np.uint64(63)) == 0)
        & (((h >> np.uint64(59)) & np.uint64(0xF)) == 1)
        & (((h >> np.uint64(56)) & np.uint64(0x7)) == 0)
        & (bc < NUM_BASE_CELLS)
    )
    lead = np.zeros(len(h), dtype=np.int64)
    for r in range(1, MAX_RES + 1):
        d = ((h >> np.uint64((MAX_RES - r) * 3)) & np.uint64(0x7)).astype(np.int64)
        used = r <= res
        ok &= np.where(used, d != 7, d == 7)
        first = used & (lead == 0) & (d != 0)
        lead = np.where(first, d, lead)
    pent = np.zeros(len(h), dtype=bool)
    in_range = bc < NUM_BASE_CELLS
    pent[in_range] = _IS_PENT[bc[in_range]]
    ok &= ~(pent & (lead == 1))
    return ok


def h3_center_child(h: int, child_res: int) -> int:
    """Center child at ``child_res``: bump the res field and zero the new
    digits (reference surface: h3geo cellToCenterChild). Pure bit math."""
    res = h3_get_resolution(h)
    if child_res < res:
        raise ValueError("child_res must be >= cell res")
    out = (h & ~(0xF << 52)) | (child_res << 52)
    for r in range(res + 1, child_res + 1):
        out &= ~(0x7 << ((MAX_RES - r) * 3))
    return out

