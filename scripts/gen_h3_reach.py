# -*- coding: utf-8 -*-
"""Calibrate the H3 reach table (``_EMB_REACH`` in functions/h3.py).

For each resolution 0..15 this measures, over the grid's distortion
extremes (every pentagon neighborhood and every icosahedron face-edge
seam) plus random controls:

- D_min[g], g = 1..MAX_RING: the minimum center-to-center great-circle
  distance (km) between a swept origin and any cell at grid distance
  exactly g. Hex centers at graph distance g can be only
  ~(sqrt(3)/2)*g*s apart (the zigzag), and pentagon distortion shrinks
  local spacing further, so these are measured, not derived from a
  nominal spacing s.
- R_max: the maximum distance from any point to the center of its
  containing cell, measured two ways and maxed: (a) boundary circum-
  radius via cell_to_boundary over the swept cells, (b) direct sampled
  point-to-center offsets (uniform + pentagon-dense points).

Reader of the table: polygon_cover_cells' edge-sample step
(functions/h3.py), through D_min[1], the minimum cell width. kNN reads
none of it: knn_h3 searches whole grid_disk neighborhoods.

Output: a Python literal for the _EMB_REACH table in functions/h3.py
(per res: [R_max, D_min[1], ..., D_min[MAX_RING]] in km; margins are
applied at LOAD time, not here, so the table stores raw measurements).

Run: python scripts/gen_h3_reach.py [res ...]   (default: all 0..15)
"""
from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, ".")

from nominatimwrapper_spark.functions import h3 as H

MAX_RING = 16
EARTH_R = 6371.0088


def _hav_km(lat1, lon1, lat2, lon2):
    r1, r2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1)
    dlon = np.radians(lon2 - lon1)
    h = np.sin(dlat / 2) ** 2 + np.cos(r1) * np.cos(r2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


def _face_edge_midpoints():
    """The 30 icosahedron edge midpoints (seam centers), from the seeded
    face centers: adjacent faces are the pairs at the minimal angular
    separation; midpoint = normalized mean direction."""
    xyz = H._FACE_XYZ
    dots = xyz @ xyz.T
    np.fill_diagonal(dots, -2)
    thresh = dots.max() - 1e-6
    mids = []
    for a in range(20):
        for b in range(a + 1, 20):
            if dots[a, b] >= thresh:
                m = xyz[a] + xyz[b]
                m /= np.linalg.norm(m)
                mids.append(m)
    assert len(mids) == 30, len(mids)
    m = np.array(mids)
    lat = np.degrees(np.arcsin(np.clip(m[:, 2], -1, 1)))
    lng = np.degrees(np.arctan2(m[:, 1], m[:, 0]))
    return lat, lng


def _origins(res: int, rng) -> np.ndarray:
    """Sweep origins: pentagon disks-2 (distortion extremes), seam-center
    cells, and random controls."""
    pents = np.array(
        [
            H.h3_center_child(
                (1 << 59) | (bc << 45) | ((1 << 45) - 1), res
            )
            for bc in H.PENTAGON_BASE_CELLS
        ],
        dtype=np.uint64,
    )
    pent_region = set()
    for d in H.grid_disk(pents, 2):
        pent_region |= d
    slat, slng = _face_edge_midpoints()
    seam = H.latlng_to_cell(slat, slng, res)
    z = rng.uniform(-1, 1, 40)
    rlng = rng.uniform(-180, 180, 40)
    rand = H.latlng_to_cell(np.degrees(np.arcsin(z)), rlng, res)
    return np.array(
        sorted(pent_region | {int(c) for c in seam} | {int(c) for c in rand}),
        dtype=np.uint64,
    )


def calibrate(res: int) -> list[float]:
    rng = np.random.default_rng(4040 + res)
    t0 = time.time()
    origins = _origins(res, rng)
    rings = H.grid_rings(origins, MAX_RING)
    all_cells = np.array(
        sorted({c for per in rings for ring in per for c in ring}),
        dtype=np.uint64,
    )
    clat, clng = H.cell_to_latlng(all_cells)
    pos = {int(c): i for i, c in enumerate(all_cells)}

    d_min = [np.inf] * (MAX_RING + 1)  # index g
    for oi, per in enumerate(rings):
        o = int(origins[oi])
        io = pos[o]
        for g in range(1, len(per)):
            if not per[g]:
                continue
            idx = np.array([pos[c] for c in per[g]])
            d = _hav_km(clat[io], clng[io], clat[idx], clng[idx])
            d_min[g] = min(d_min[g], float(d.min()))

    # R_max (a): boundary circumradius over pentagon-region + seam +
    # random origins and their immediate neighbors (disk-1 of origins)
    bset = set()
    for d in H.grid_disk(origins, 1):
        bset |= d
    barr = np.array(sorted(bset), dtype=np.uint64)
    blat, blng = H.cell_to_latlng(barr)
    bounds = H.cell_to_boundary(barr)
    r_max = 0.0
    for i, b in enumerate(bounds):
        r_max = max(r_max, float(_hav_km(blat[i], blng[i], b[:, 0], b[:, 1]).max()))

    # R_max (b): direct point offsets — uniform + pentagon-dense samples
    z = rng.uniform(-1, 1, 30_000)
    plng = rng.uniform(-180, 180, 30_000)
    plat = np.degrees(np.arcsin(z))
    dlat, dlng = [plat], [plng]
    pla, pln = H.cell_to_latlng(
        np.array(
            [H.h3_center_child((1 << 59) | (bc << 45) | ((1 << 45) - 1), res)
             for bc in H.PENTAGON_BASE_CELLS],
            dtype=np.uint64,
        )
    )
    span = np.degrees(3.0 * 0.4 / H._SQRT7 ** res)
    for la, ln in zip(pla, pln):
        n = 2_000
        dlat.append(la + rng.uniform(-span, span, n))
        dlng.append(ln + rng.uniform(-span, span, n) / max(np.cos(np.radians(la)), 0.05))
    plat = np.clip(np.concatenate(dlat), -90, 90)
    plng = (np.concatenate(dlng) + 180) % 360 - 180
    cells = H.latlng_to_cell(plat, plng, res)
    cla, cln = H.cell_to_latlng(np.unique(cells))
    cpos = {int(c): i for i, c in enumerate(np.unique(cells))}
    ci = np.array([cpos[int(c)] for c in cells])
    off = _hav_km(plat, plng, cla[ci], cln[ci])
    r_max = max(r_max, float(off.max()))

    row = [r_max] + [d_min[g] for g in range(1, MAX_RING + 1)]
    print(
        f"# res {res}: {len(origins)} origins, {len(all_cells)} cells, "
        f"{time.time() - t0:.1f}s  R_max={r_max:.6g} D_min1={d_min[1]:.6g}",
        file=sys.stderr,
    )
    return row


def main():
    args = [a for a in sys.argv[1:] if a != "--exact"]
    exact = "--exact" in sys.argv[1:]
    want = [int(a) for a in args] or (list(range(6)) if exact else list(range(16)))
    print("_EMB_REACH = {")
    for res in want:
        row = calibrate_exact(res, exhaustive=res <= 2) if exact else calibrate(res)
        vals = ", ".join("float('inf')" if not np.isfinite(v) else f"{v:.9g}" for v in row)
        print(f"    {res}: [{vals}],")
        sys.stdout.flush()
    print("}")


# NB: the __main__ dispatch lives at the END of the file — main() calls
# calibrate_exact (defined below) when --exact is passed.


# ---------------------------------------------------------------------------
# exact mode (round 5): exhaustive origins at coarse res
# ---------------------------------------------------------------------------


def _bfs_rings_min_dist(origin, neigh, clat, clng, pos, max_ring):
    """Per-origin BFS over a neighbor map; returns min center distance per
    ring (index g, 1..max_ring; inf when ring empty)."""
    import collections

    seen = {origin}
    frontier = {origin}
    io = pos[origin]
    mins = [np.inf] * (max_ring + 1)
    for g in range(1, max_ring + 1):
        nxt = set()
        for c in frontier:
            nxt |= neigh[c]
        nxt -= seen
        if not nxt:
            break
        seen |= nxt
        idx = np.fromiter((pos[c] for c in nxt), dtype=np.int64, count=len(nxt))
        d = _hav_km(clat[io], clng[io], clat[idx], clng[idx])
        mins[g] = float(d.min())
        frontier = nxt
    return mins


def _all_cells(res: int) -> np.ndarray:
    """Every cell at res (2 + 120*7^res of them) via uncompact of res 0."""
    base = np.array(
        [(1 << 59) | (bc << 45) | ((1 << 45) - 1) for bc in range(122)],
        dtype=np.uint64,
    )
    if res == 0:
        return base
    return np.array(sorted(H.uncompact_cells(base, res)), dtype=np.uint64)


def _pentagon_cells(res: int) -> np.ndarray:
    return np.array(
        [H.h3_center_child((1 << 59) | (bc << 45) | ((1 << 45) - 1), res)
         for bc in H.PENTAGON_BASE_CELLS],
        dtype=np.uint64,
    )


def _seam_cells(res: int) -> np.ndarray:
    """EVERY cell crossed by an icosahedron edge: the 12 icosa vertices are
    exactly the pentagon centers; edges join the 30 closest vertex pairs;
    arcs are slerp-sampled at ~1/5 cell spacing so no crossing cell is
    skipped."""
    pents0 = _pentagon_cells(0)
    vla, vlo = H.cell_to_latlng(pents0)
    v = np.stack(
        [
            np.cos(np.radians(vla)) * np.cos(np.radians(vlo)),
            np.cos(np.radians(vla)) * np.sin(np.radians(vlo)),
            np.sin(np.radians(vla)),
        ],
        axis=1,
    )
    dots = v @ v.T
    np.fill_diagonal(dots, -2)
    thresh = dots.max() - 1e-6
    pairs = [(a, b) for a in range(12) for b in range(a + 1, 12) if dots[a, b] >= thresh]
    assert len(pairs) == 30, len(pairs)
    spacing_km = _EMB_REACH_SPACING[res]
    cells = set()
    for a, b in pairs:
        ang = float(np.arccos(np.clip(dots[a, b], -1, 1)))
        arc_km = EARTH_R * ang
        n = max(16, int(arc_km / (spacing_km / 5.0)))
        t = np.linspace(0.0, 1.0, n)
        s = (np.sin((1 - t)[:, None] * ang) * v[a] + np.sin(t[:, None] * ang) * v[b]) / np.sin(ang)
        s /= np.linalg.norm(s, axis=1, keepdims=True)
        la = np.degrees(np.arcsin(np.clip(s[:, 2], -1, 1)))
        lo = np.degrees(np.arctan2(s[:, 1], s[:, 0]))
        cells |= {int(c) for c in H.latlng_to_cell(la, lo, res)}
    return np.array(sorted(cells), dtype=np.uint64)


# approximate cell spacing (km) per res, for seam sampling density only
_EMB_REACH_SPACING = {r: 1107.7 / (7 ** 0.5) ** r for r in range(16)}


def calibrate_exact(res: int, exhaustive: bool) -> list[float]:
    """Exact-where-enumerable calibration.

    ``exhaustive``: sweep EVERY cell of the res as origin (res <= 2 here;
    feasible up to ~10k origins). Otherwise sweep the full distortion-
    extreme set — every seam-crossed cell + pentagon disk-3 — plus dense
    random controls; the exhaustive runs validate that the global minima
    are attained inside exactly that subset."""
    rng = np.random.default_rng(5050 + res)
    t0 = time.time()
    if exhaustive:
        origins = _all_cells(res)
    else:
        pent = set()
        for d in H.grid_disk(_pentagon_cells(res), 3):
            pent |= d
        seam = _seam_cells(res)
        z = rng.uniform(-1, 1, 400)
        rl = rng.uniform(-180, 180, 400)
        rand = H.latlng_to_cell(np.degrees(np.arcsin(z)), rl, res)
        origins = np.array(
            sorted(pent | {int(c) for c in seam} | {int(c) for c in rand}),
            dtype=np.uint64,
        )

    # distances computed lazily: per-origin BFS over on-demand neighbors
    d_min = [np.inf] * (MAX_RING + 1)
    argmin_origin = [None] * (MAX_RING + 1)
    clat_cache: dict[int, tuple] = {}

    # chunked: expand disk-16 around a chunk of origins, with one shared
    # neighbor/center table per chunk (bounds memory at fine res)
    CH = 4000
    for lo_i in range(0, len(origins), CH):
        chunk = origins[lo_i : lo_i + CH]
        # materialize neighbor map for the chunk's disk-16 region
        region = {int(c) for c in chunk}
        frontier = set(region)
        neigh: dict[int, set] = {}
        for _ in range(MAX_RING):
            nb = H.grid_neighbors(np.array(sorted(frontier), dtype=np.uint64))
            neigh.update(nb)
            nxt = set()
            for s in nb.values():
                nxt |= s
            frontier = nxt - region
            region |= nxt
            if not frontier:
                break
        arr = np.array(sorted(region), dtype=np.uint64)
        clat, clng = H.cell_to_latlng(arr)
        pos = {int(c): i for i, c in enumerate(arr)}
        # boundary cells of the region have incomplete neighbor sets in
        # `neigh` only if never expanded; BFS stops at max_ring anyway and
        # every cell within ring max_ring-1 of an origin WAS expanded.
        for o in chunk:
            mins = _bfs_rings_min_dist(int(o), neigh, clat, clng, pos, MAX_RING)
            for g in range(1, MAX_RING + 1):
                if mins[g] < d_min[g]:
                    d_min[g] = mins[g]
                    argmin_origin[g] = int(o)
        print(
            f"#   res {res}: chunk {lo_i//CH} ({len(chunk)} origins, region "
            f"{len(arr)}) {time.time()-t0:.0f}s",
            file=sys.stderr,
        )

    # R_max: boundary circumradius over every origin cell + point sampling
    blat, blng = H.cell_to_latlng(origins)
    r_max = 0.0
    B = 20000
    for i in range(0, len(origins), B):
        bnds = H.cell_to_boundary(origins[i : i + B])
        for j, b in enumerate(bnds):
            r_max = max(
                r_max,
                float(_hav_km(blat[i + j], blng[i + j], b[:, 0], b[:, 1]).max()),
            )
    z = rng.uniform(-1, 1, 50_000)
    plng = rng.uniform(-180, 180, 50_000)
    plat = np.degrees(np.arcsin(z))
    pla, pln = H.cell_to_latlng(_pentagon_cells(res))
    span = np.degrees(3.0 * 0.4 / H._SQRT7 ** res)
    dlat, dlng = [plat], [plng]
    for la, ln in zip(pla, pln):
        dlat.append(la + rng.uniform(-span, span, 3000))
        dlng.append(ln + rng.uniform(-span, span, 3000) / max(np.cos(np.radians(la)), 0.05))
    plat = np.clip(np.concatenate(dlat), -90, 90)
    plng = (np.concatenate(dlng) + 180) % 360 - 180
    cells = H.latlng_to_cell(plat, plng, res)
    u, inv = np.unique(cells, return_inverse=True)
    cla, cln = H.cell_to_latlng(u)
    off = _hav_km(plat, plng, cla[inv], cln[inv])
    r_max = max(r_max, float(off.max()))

    # provenance: was each ring minimum attained at a distortion extreme?
    pent_region = set()
    for d in H.grid_disk(_pentagon_cells(res), 4):
        pent_region |= d
    seam = {int(c) for c in _seam_cells(res)}
    where = []
    for g in (1, 2, 3, 4):
        o = argmin_origin[g]
        if o is None:
            where.append("-")
        elif o in pent_region:
            where.append("pent")
        elif o in seam:
            where.append("seam")
        else:
            where.append("INTERIOR")
    print(
        f"# res {res} ({'exhaustive' if exhaustive else 'extremes'}): "
        f"{len(origins)} origins {time.time()-t0:.0f}s R_max={r_max:.6g} "
        f"D_min1={d_min[1]:.6g} argmin@g1..4={where}",
        file=sys.stderr,
    )
    return [r_max] + [d_min[g] for g in range(1, MAX_RING + 1)]


def main_exact(res_list):
    rows = {}
    for res in res_list:
        rows[res] = calibrate_exact(res, exhaustive=res <= 2)
    print("_EMB_REACH_EXACT = {")
    for res, row in rows.items():
        print(f"    {res}: {row!r},")
    print("}")


if __name__ == "__main__":
    main()
