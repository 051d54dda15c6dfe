# -*- coding: utf-8 -*-
"""Derive the H3 orientation tables embedded in functions/h3.py.

latLngToCell needs, per icosahedron face coordinate, the base cell it
names and the ccw rotation into that cell's canonical orientation, plus
the pentagon leading-K fix directions. functions/h3.py embeds them as
literals (``_EMB_FACE_BC``, ``_EMB_FACE_ROT``, ``_EMB_CW``,
``_EMB_DEAD``) so that importing the module on a worker costs
microseconds. This script re-derives them from the seeded geometry alone
(face centers, face axes, base-cell home coordinates) in two solvers:

- ``_derive_face_ijk_table``: membership by nearest base-cell center, and
  hexagon chart rotations by seam continuity across face boundaries;
- ``_solve_pentagon_tiling``: pentagon chart rotations and fix directions
  by collision-freedom of the tiling.

tests/test_h3.py imports ``derive_tables`` and asserts that the fresh
derivation equals the embedded tables.

Run: python scripts/gen_h3_tables.py   (about 15 s of numpy)
Prints the four literals; the last line says whether they equal the ones
in functions/h3.py.
"""
from __future__ import annotations

import base64
import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from nominatimwrapper_spark.functions import h3 as H  # noqa: E402
from nominatimwrapper_spark.functions.h3 import (  # noqa: E402
    _BASE_CELL_HOME,
    _FACE_XYZ,
    _IS_PENT,
    _PENT_CW_OFFSET_FACES,
    _SQRT7,
    NUM_BASE_CELLS,
    PENTAGON_BASE_CELLS,
    _canonical_digits,
    _closest_face,
    _digits_on_face,
    _geo_az_distance,
    _geo_to_xyz,
    _hex2d_to_geo,
    _ijk_normalize,
    _ijk_to_hex2d,
    _leading_nonzero,
)


def _base_cell_centers():
    """(lat, lng) of each base cell from its home face coordinates."""
    lats = np.empty(NUM_BASE_CELLS)
    lngs = np.empty(NUM_BASE_CELLS)
    for c, (f, i, j, k) in enumerate(_BASE_CELL_HOME):
        x, y = _ijk_to_hex2d(np.int64(i), np.int64(j), np.int64(k))
        lat, lng = _hex2d_to_geo(np.float64(x), np.float64(y), f, 0)
        lats[c], lngs[c] = float(lat), float(lng)
    return lats, lngs


def _derive_face_ijk_table(res: int = 2):
    """Build _FACE_BC / _FACE_ROT / pentagon cw flags from the seeded
    geometry — combinatorially, with no recalled orientation table.

    Membership (_FACE_BC): each face coordinate ijk in {0..2}^3 names the
    res-0 cell whose (distortion-displaced) chart grid point lies nearest
    among the 122 home-chart cell centers; asserted unambiguous (the
    displacement is < 0.09 rad vs ~0.38 rad cell spacing).

    Orientation (_FACE_ROT + cw flags): H3's published tables make
    latLngToCell CONTINUOUS across closest-face routing boundaries — two
    points a hair apart on either side of a face seam, inside the same
    coarse cell, must canonicalize to the same digits. That fixes every
    non-home entry relative to an already-solved chart of the same cell
    (home chart = rot 0 = the canonical orientation, by definition).
    Entries are solved by chaining around each cell's charts: sample the
    seam between chart f and a solved chart f', nudge +-eps to the two
    routing sides, and keep the unique (rotation, cw-flag) combo whose
    canonical res-2 digits agree across the seam for nearly all pairs
    (pairs straddling a genuine fine-cell edge are the noise floor; the
    pentagon deleted-subsequence skip makes some rotation counts
    bit-identical — such combos are merged into equivalence classes and
    min(r) of the winning class is taken, which cannot change any output
    index). Pentagon leading-K pairs double as the cw-flag probe; charts
    whose wedge never produces a leading K keep the seeded flag (the fix
    never fires there, so the flag is dead code)."""
    bc_lat, bc_lng = _base_cell_centers()
    bc_xyz = _geo_to_xyz(bc_lat, bc_lng)

    face_bc = np.full((20, 3, 3, 3), -1, dtype=np.int64)
    face_rot = np.zeros((20, 3, 3, 3), dtype=np.int64)

    # ---- pass 1: membership -------------------------------------------
    # cell -> {face: (ijk, grid-point geo)} for every appearance
    appearances: dict[int, dict[int, tuple]] = {}
    for f in range(20):
        for i0 in range(3):
            for j0 in range(3):
                for k0 in range(3):
                    i, j, k = _ijk_normalize(
                        np.int64(i0), np.int64(j0), np.int64(k0)
                    )
                    x, y = _ijk_to_hex2d(i, j, k)
                    lat, lng = _hex2d_to_geo(np.float64(x), np.float64(y), f, 0)
                    p = _geo_to_xyz(np.float64(lat), np.float64(lng))
                    d = bc_xyz @ p
                    order = np.argsort(-d)
                    c = int(order[0])
                    a0 = float(np.arccos(np.clip(d[c], -1, 1)))
                    a1 = float(np.arccos(np.clip(d[order[1]], -1, 1)))
                    assert a0 < 0.15 and a1 > a0 + 0.08, (
                        f"ambiguous base-cell match face {f} ijk "
                        f"{(i0, j0, k0)}: {c}@{a0:.3f} vs {order[1]}@{a1:.3f}"
                    )
                    face_bc[f, i0, j0, k0] = c
                    appearances.setdefault(c, {})[f] = (
                        (int(i), int(j), int(k)), float(lat), float(lng)
                    )

    # ---- pass 2: orientation by chained seam consistency --------------
    cw_solved: dict[tuple[int, int], bool] = {}
    dead: set[tuple[int, int]] = set()  # (face, cell) never routed to
    pent_amb: dict[tuple[int, int], list[int]] = {}  # (cell, face) -> rots

    def _seam_sides(f, ff, lat, lng, n=600):
        """Pair samples straddling the f/ff routing seam near (lat,lng):
        returns (lat_f, lng_f, lat_ff, lng_ff) arrays of valid pairs."""
        Fa, Fb = _FACE_XYZ[f], _FACE_XYZ[ff]
        u = Fa + Fb
        u /= np.linalg.norm(u)
        w = np.cross(Fa, Fb)
        w /= np.linalg.norm(w)
        gp = _geo_to_xyz(np.float64(lat), np.float64(lng))
        # parametrize the bisector great circle, keep the stretch near the
        # cell (and through the vertex for pentagons)
        t = np.linspace(-0.7, 0.7, n)
        seam = np.outer(np.cos(t), u) + np.outer(np.sin(t), w)
        near = seam @ gp > np.cos(0.33)
        seam = seam[near]
        if not len(seam):
            return None
        d = Fa - Fb
        d /= np.linalg.norm(d)
        eps = 1.5e-3
        pa = seam + eps * d
        pa /= np.linalg.norm(pa, axis=1, keepdims=True)
        pb = seam - eps * d
        pb /= np.linalg.norm(pb, axis=1, keepdims=True)
        out = []
        for p in (pa, pb):
            out.append(np.arcsin(np.clip(p[:, 2], -1, 1)))
            out.append(np.arctan2(p[:, 1], p[:, 0]))
        return tuple(out)

    for c, faces in appearances.items():
        fh, ih, jh, kh = _BASE_CELL_HOME[c]
        assert fh in faces and faces[fh][0] == (ih, jh, kh), (
            f"cell {c}: home appearance missing/mismatched"
        )
        if _IS_PENT[c]:
            continue  # pentagons: solved wholesale by the tiling CSP below
        solved = {fh: 0}
        pending = [f for f in faces if f != fh]
        guard = 0
        while pending:
            guard += 1
            assert guard < 40, f"cell {c}: seam chaining stalled at {pending}"
            progressed = False
            for f in list(pending):
                ijk_f, lat_f, lng_f = faces[f]
                hit = None
                for ff in list(solved):
                    ijk_ff = faces[ff][0]
                    # a cell's wedge on a secondary chart can be a tiny
                    # sliver: retry the seam walk at increasing density
                    for n_seam in (600, 8000):
                        sides = _seam_sides(f, ff, lat_f, lng_f, n=n_seam)
                        if sides is None:
                            break
                        alat, alng, blat, blng = sides
                        aface = _closest_face(_geo_to_xyz(alat, alng))
                        bface = _closest_face(_geo_to_xyz(blat, blng))
                        (ai, aj, ak), adig = _digits_on_face(alat, alng, f, res)
                        (bi, bj, bk), bdig = _digits_on_face(blat, blng, ff, res)
                        good = (
                            (aface == f) & (bface == ff)
                            & (ai == ijk_f[0]) & (aj == ijk_f[1]) & (ak == ijk_f[2])
                            & (bi == ijk_ff[0]) & (bj == ijk_ff[1]) & (bk == ijk_ff[2])
                            & (adig >= 0).all(axis=1) & (bdig >= 0).all(axis=1)
                        )
                        # pairs must be rotation-SENSITIVE: charts that
                        # meet only at a pentagon vertex yield pairs whose
                        # res-2 digits are all zero (the center cell), and
                        # every rotation scores alike there — useless as
                        # evidence, so route through an adjacent chart
                        sens = good & (adig != 0).any(axis=1)
                        if int(sens.sum()) >= 12:
                            hit = (ff, adig[sens], bdig[sens])
                            break
                    if hit is not None:
                        break
                if hit is None:
                    # reachability probe: a chart appearance that no
                    # closest-face-routed point ever uses (e.g. cell 16 on
                    # face 1 — the cell hugs face 0's center and never
                    # reaches the routing seam) is dead code for
                    # latLngToCell; keep rot 0 and let the global tiling
                    # tests confirm it is never exercised.
                    rng_p = np.random.default_rng(1000 + 20 * c + f)
                    az = rng_p.uniform(0, 2 * np.pi, 4000)
                    dist = rng_p.uniform(0.0, 0.3, 4000)
                    plat, plng = _geo_az_distance(
                        np.float64(lat_f), np.float64(lng_f), az, dist
                    )
                    pface = _closest_face(_geo_to_xyz(plat, plng))
                    (pi, pj, pk), _pd = _digits_on_face(plat, plng, f, 1)
                    used = (
                        (pface == f)
                        & (pi == ijk_f[0]) & (pj == ijk_f[1]) & (pk == ijk_f[2])
                    )
                    if not used.any():
                        dead.add((f, c))
                        pending.remove(f)
                        progressed = True
                    continue
                ff, adig, bdig = hit
                pent = bool(_IS_PENT[c])
                b_lead_k = (_leading_nonzero(bdig, res) == 1).any()
                a_lead_k = (_leading_nonzero(adig, res) == 1).any()
                b_flags = (
                    [cw_solved[(c, ff)]]
                    if (c, ff) in cw_solved
                    else ([False, True] if (pent and b_lead_k) else [False])
                )
                a_flags = [False, True] if (pent and a_lead_k) else [False]
                combos = []  # (score, r, fa, fb, canon_a_bytes)
                for fb in b_flags:
                    want = _canonical_digits(
                        bdig, c, ff, solved[ff], res, cw_override=fb
                    )
                    for r in range(6):
                        for fa in a_flags:
                            can = _canonical_digits(
                                adig, c, f, r, res, cw_override=fa
                            )
                            score = float((can == want).all(axis=1).mean())
                            combos.append((score, r, fa, fb, can.tobytes()))
                # Where a seam stretch coincides with the pentagon fold
                # (the deleted sector) or cuts fine-cell corners, even the
                # right combo tops out below 100%. Keep every combo within
                # a band of the best; if the band holds more than one
                # DISTINCT canonicalization (pentagon near-equivalences
                # differ only on some leading-digit families), defer to
                # the tiling arbiter. Equivalence is judged over the FULL
                # res-2 digit space — the pent-rotation power depends only
                # on the leading digit value, so res-2 exhaustion decides
                # equivalence for every resolution.
                best = max(s for s, *_ in combos)
                assert best >= 0.55, (
                    f"no consistent orientation for cell {c} chart {f} vs "
                    f"{ff}: best seam agreement {best:.0%}"
                )
                band = [cb for cb in combos if cb[0] >= best - 0.15]
                seqs = np.stack(
                    np.meshgrid(np.arange(7), np.arange(7), indexing="ij"),
                    axis=-1,
                ).reshape(-1, 2)
                full_classes: dict[bytes, int] = {}
                for _s, wr, _fa, _fb, _o in band:
                    key = _canonical_digits(
                        seqs, c, f, wr, 2, cw_override=False
                    ).tobytes()
                    full_classes[key] = min(full_classes.get(key, wr), wr)
                r = min(full_classes.values())
                if len(full_classes) > 1:
                    assert pent, (
                        f"orientation ambiguous for hexagon cell {c} chart "
                        f"{f} vs {ff}: {sorted(full_classes.values())}"
                    )
                    pent_amb[(c, f)] = sorted(full_classes.values())
                i0, j0, k0 = ijk_f
                # write the rotation to every raw coordinate that
                # normalizes to this appearance
                for ri in range(3):
                    for rj in range(3):
                        for rk in range(3):
                            ni, nj, nk = _ijk_normalize(
                                np.int64(ri), np.int64(rj), np.int64(rk)
                            )
                            if (int(ni), int(nj), int(nk)) == (i0, j0, k0) and (
                                int(face_bc[f, ri, rj, rk]) == c
                            ):
                                face_rot[f, ri, rj, rk] = r
                solved[f] = r
                pending.remove(f)
                progressed = True
            assert progressed, (
                f"cell {c}: no seam with enough pairs for charts {pending} "
                f"(solved: {sorted(solved)})"
            )
    return face_bc, face_rot, pent_amb, dead


def _solve_pentagon_tiling(face_bc, res: int = 3, n_samples: int = 120_000):
    """Solve every pentagon chart orientation (rotation + leading-K fix
    direction) by COLLISION-freedom of the tiling.

    Pentagon canonicalization is only piecewise-rigid (the pent-rotation
    power depends on the leading digit value), so seam-equality evidence
    can be satisfied by wrong rotations on the fold-adjacent charts. The
    tiling is the decisive observable: under the correct orientations
    every canonical index owns ONE tight region; a wrong rotation or fix
    direction maps some wedge onto labels used elsewhere in the pentagon
    (duplicate, far-apart regions — verified to discriminate with a ~3x
    margin by construction tests).

    Solved as a tiny CSP: per chart, candidates = 6 rotations x fix
    flags (flags only where the chart's wedge produces leading-K digits);
    a candidate is self-consistent if none of ITS OWN labels splits into
    far-apart chunks, and pair-compatible with another chart's candidate
    if every SHARED label's chunk centroids are adjacent. Backtracking
    over the per-chart domains then yields the assignments; equivalent
    candidates (identical label arrays — the deleted-subsequence orbit)
    are merged, and the effective assignment is asserted unique.

    ``face_bc`` is the membership table from _derive_face_ijk_table.
    Returns ({(cell, face): flag}, {(cell, face): rot}).
    """
    rng = np.random.default_rng(11)
    solved_cw: dict[tuple[int, int], bool] = {}
    solved_rot: dict[tuple[int, int], int] = {}
    cellsize = 0.4 / _SQRT7 ** res
    pw = 7 ** np.arange(res)
    for c in PENTAGON_BASE_CELLS:
        fh, ih, jh, kh = _BASE_CELL_HOME[c]
        x, y = _ijk_to_hex2d(np.int64(ih), np.int64(jh), np.int64(kh))
        lat, lng = _hex2d_to_geo(np.float64(x), np.float64(y), fh, 0)
        az = rng.uniform(0, 2 * np.pi, n_samples)
        dist = rng.uniform(0, 1, n_samples) ** 1.5 * 0.35
        slat, slng = _geo_az_distance(lat, lng, az, dist)
        sface = _closest_face(_geo_to_xyz(slat, slng))
        xyz = _geo_to_xyz(slat, slng)

        digs = np.full((n_samples, res), -1, dtype=np.int64)
        keep = np.zeros(n_samples, dtype=bool)
        for f in np.unique(sface):
            m = sface == f
            (fi, fj, fk), dg = _digits_on_face(slat[m], slng[m], int(f), res)
            inb = (
                (fi <= 2) & (fj <= 2) & (fk <= 2)
                & (face_bc[f, np.clip(fi, 0, 2), np.clip(fj, 0, 2),
                           np.clip(fk, 0, 2)] == c)
            )
            digs[np.where(m)[0][inb]] = dg[inb]
            keep[np.where(m)[0][inb]] = True
        keep &= (digs >= 0).all(axis=1)
        idx = np.where(keep)[0]
        sf = sface[idx]
        dg = digs[idx]
        pz = xyz[idx]
        lead = _leading_nonzero(dg, res)
        k_charts = set(int(v) for v in np.unique(sf[lead == 1]))
        faces_here = [int(v) for v in np.unique(sf)]

        # per-chart candidates with per-label chunk stats
        def chunk_stats(labels, pts):
            stats = {}
            for lb in np.unique(labels):
                m = labels == lb
                if int(m.sum()) < 3:
                    continue  # noise chunk
                cen = pts[m].mean(axis=0)
                cen /= np.linalg.norm(cen)
                rmax = float(
                    np.sqrt(np.maximum(2 - 2 * (pts[m] @ cen), 0)).max()
                )
                stats[int(lb)] = (cen, rmax)
            return stats

        domains: dict[int, list] = {}  # f -> [(r, fl, labels, stats)]
        for f in faces_here:
            m = sf == f
            cands = (
                [(0, False)] if f == fh
                else [
                    (r, fl)
                    for r in range(6)
                    for fl in ([False, True] if f in k_charts else [False])
                ]
            )
            dom = []
            for r, fl in cands:
                can = _canonical_digits(dg[m], c, f, r, res, cw_override=fl)
                labels = (can * pw).sum(axis=1)
                stats = chunk_stats(labels, pz[m])
                # self-consistency: no label of this chart alone may span
                # far-apart regions (piecewise lead-families colliding)
                if any(rm > 1.4 * cellsize for _cen, rm in stats.values()):
                    continue
                dom.append((r, fl, labels, stats))
            assert dom, f"pentagon {c} chart {f}: no self-consistent candidate"
            domains[f] = dom

        def compatible(sa, sb):
            shared = set(sa) & set(sb)
            for lb in shared:
                ca, _ra = sa[lb]
                cb, _rb = sb[lb]
                d = float(np.sqrt(max(2 - 2 * float(ca @ cb), 0)))
                if d > 1.8 * cellsize:
                    return False
            return True

        # arc-consistency then exhaustive search over the pruned domains
        order = sorted(faces_here, key=lambda f: (f != fh, f))
        assigns: list[dict[int, tuple[int, bool]]] = []

        def backtrack(n, chosen):
            if n == len(order):
                assigns.append(dict(chosen))
                return
            f = order[n]
            for r, fl, labels, stats in domains[f]:
                ok = True
                for f2, (r2, fl2, labels2, stats2) in chosen.items():
                    if not compatible(stats, stats2):
                        ok = False
                        break
                if ok:
                    chosen[f] = (r, fl, labels, stats)
                    backtrack(n + 1, chosen)
                    del chosen[f]

        backtrack(0, {})
        assert assigns, f"pentagon {c}: no collision-free orientation"
        # merge orbit-equivalent assignments: identical label arrays per
        # chart => identical output indexes
        sigs = set()
        for a in assigns:
            sigs.add(tuple(a[f][2].tobytes() for f in order))
        assert len(sigs) == 1, (
            f"pentagon {c}: orientation not unique — "
            f"{[{f: (a[f][0], a[f][1]) for f in order} for a in assigns[:4]]}"
        )
        pick = assigns[0]
        for f in faces_here:
            r, fl, _labels, _stats = pick[f]
            if f != fh:
                solved_rot[(c, f)] = min(
                    a[f][0] for a in assigns
                )  # min of the equivalent orbit, deterministic
            if f in k_charts:
                flags = {a[f][1] for a in assigns}
                assert len(flags) == 1, (
                    f"pentagon {c} chart {f}: cw flag ambiguous"
                )
                solved_cw[(c, f)] = flags.pop()
    return solved_cw, solved_rot


def _solve_tables():
    """Both solvers: (face_bc, face_rot, {(cell, face): cw flag} for the
    pentagon charts the tiling solver decided, dead (face, cell) pairs)."""
    face_bc, face_rot, _amb, dead = _derive_face_ijk_table()
    cw_solved, pent_rot = _solve_pentagon_tiling(face_bc)
    for (c, f), r in pent_rot.items():
        for ri in range(3):
            for rj in range(3):
                for rk in range(3):
                    if int(face_bc[f, ri, rj, rk]) == c:
                        face_rot[f, ri, rj, rk] = r
    return face_bc, face_rot, cw_solved, dead


def derive_tables():
    """Run the full geometric derivation: returns (face_bc, face_rot,
    cw_offset, dead) in the shapes functions/h3.py loads its embedded
    tables into (``_FACE_BC``, ``_FACE_ROT``, ``_CW_OFFSET``,
    ``_DEAD_ENTRIES``)."""
    face_bc, face_rot, cw_solved, dead = _solve_tables()
    cw = np.zeros((NUM_BASE_CELLS, 20), dtype=bool)
    for c, faces in _PENT_CW_OFFSET_FACES.items():
        for f in faces:
            cw[c, f] = True
    for (c, f), flag in cw_solved.items():
        cw[c, f] = flag
    return face_bc, face_rot, cw, dead


def main():
    face_bc, face_rot, cw_solved, dead = _solve_tables()
    lits = {
        "_EMB_FACE_BC": base64.b64encode(face_bc.astype(np.uint8).tobytes()).decode(),
        "_EMB_FACE_ROT": base64.b64encode(face_rot.astype(np.uint8).tobytes()).decode(),
        "_EMB_CW": sorted((c, f, int(v)) for (c, f), v in cw_solved.items()),
        "_EMB_DEAD": sorted(dead),
    }
    for name, val in lits.items():
        print(f'{name} = "{val}"' if isinstance(val, str) else f"{name} = {val!r}")
    same = all(getattr(H, name) == val for name, val in lits.items())
    print(f"# {'equal to' if same else 'DIFFERENT from'} the literals in functions/h3.py")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
