# -*- coding: utf-8 -*-
"""PIP / kNN / rollup / pages-pipeline tests on the synthetic world."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nominatimwrapper_spark.functions.geo import grid_cell_col, haversine_km
from nominatimwrapper_spark.operators.pages import (
    extract_addresses_from_text,
    pages_to_addresses,
    verify_text_bytes,
)
from nominatimwrapper_spark.operators.spatial import (
    knn_bruteforce,
    knn_cells,
    latest_snapshot,
    point_in_polygon_join,
)
from nominatimwrapper_spark.synth import gen_world, write_world


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    w = gen_world(n_streets=80, houses_per_street=5, n_pages=200, n_per_class=4)
    d = tmp_path_factory.mktemp("world2")
    write_world(str(d), w)
    w["_dir"] = str(d)
    return w


def test_extract_addresses_regex():
    text = (
        "menu Adresse: Avenue Louise 12, 1050 Elsette horaires tel 02/123.45 "
        "Adresse: Louizalaan 9b, 1000 Bruxenne fin"
    )
    got = extract_addresses_from_text(text)
    assert got == [
        dict(street="Avenue Louise", housenbr="12", postcode="1050", city="Elsette"),
        dict(street="Louizalaan", housenbr="9b", postcode="1000", city="Bruxenne"),
    ]


def test_byte_identity_invariant(spark, world):
    pages = spark.read.parquet(f"{world['_dir']}/pages.parquet")
    bad = verify_text_bytes(pages)
    assert bad.isEmpty(), bad.limit(3).toPandas()


def test_pages_to_addresses_counts(spark, world):
    pages = spark.read.parquet(f"{world['_dir']}/pages.parquet")
    addrs = pages_to_addresses(pages).toPandas()
    # every extracted address references a real gazetteer locality
    gaz = world["gazetteer"]
    assert set(addrs.postcode) <= set(gaz.post_code)
    # dedup: addr_key unique
    assert addrs.addr_key.is_unique
    # urls with duplicate crawls keep only the latest warc_ts
    pg = world["pages"]
    latest = pg.groupby("url").warc_ts.max()
    merged = addrs.merge(latest.rename("max_ts"), left_on="url", right_index=True)
    assert (_naive(merged.warc_ts) == _naive(merged.max_ts)).all()


def _naive(s: pd.Series) -> pd.Series:
    return s.dt.tz_localize(None) if s.dt.tz is not None else s


def test_latest_snapshot(spark, world):
    pages = spark.read.parquet(f"{world['_dir']}/pages.parquet")
    snap = latest_snapshot(pages).toPandas()
    assert snap.url.is_unique
    exp = world["pages"].groupby("url").warc_ts.max()
    got = snap.set_index("url").warc_ts
    assert (_naive(got.sort_index()) == _naive(exp.sort_index())).all()


def test_pip_assigns_city_polygon(spark, world):
    """Every gazetteer point must fall in its own city's polygon (polygons
    are constructed to contain all their city's points)."""
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    polys = spark.read.parquet(f"{world['_dir']}/polygons.parquet")
    hit = point_in_polygon_join(gaz.select("place_id", "post_code", "lat", "lon"), polys)
    got = hit.toPandas()
    # each point in >= 1 polygon, and the matching polygon is its city's
    n_points = gaz.count()
    own = got[got.post_code.notna()]
    poly_pc = world["polygons"].set_index("poly_id").post_code
    own = own.assign(poly_pc=own.poly_id.map(poly_pc))
    assert (own.poly_pc == own.post_code).all()
    assert own.place_id.nunique() == n_points


def test_pip_edge_cases(spark):
    """Concave ring + ring-with-hole truth table."""
    # square with square hole: outer (0,0)-(10,10), hole (4,4)-(6,6)
    polys = spark.createDataFrame(
        pd.DataFrame(
            [
                dict(
                    poly_id=1, name="holey", post_code="",
                    ring_xy=[0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0,
                             4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0],
                    ring_offsets=[0, 8, 16],
                    bbox_minx=0.0, bbox_miny=0.0, bbox_maxx=10.0, bbox_maxy=10.0,
                )
            ]
        )
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            dict(
                pid=[1, 2, 3, 4, 5],
                lon=[2.0, 5.0, 11.0, 4.5, 9.999999],
                lat=[2.0, 5.0, 5.0, 5.9999, 9.999999],
            )
        )
    )
    got = point_in_polygon_join(pts, polys).toPandas()
    assert set(got.pid) == {1, 5}  # 2 and 4 are in the hole, 3 outside


def test_knn_cells_matches_bruteforce(spark, world):
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(40)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    queries = spark.createDataFrame(qpdf)

    bf = knn_bruteforce(queries, targets, k=3).select("query_id", "neighbor_id", "knn_rank").toPandas()
    cc = knn_cells(queries, targets, k=3).select("query_id", "neighbor_id", "knn_rank").toPandas()
    bf = bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    cc = cc.sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(bf, cc)


def test_knn_h3_matches_bruteforce(spark, world):
    """J10 on the real Uber-H3 tiling: ring expansion over grid_disk
    shells equals exact brute force."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(40)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    queries = spark.createDataFrame(qpdf)

    bf = knn_bruteforce(queries, targets, k=3).select("query_id", "neighbor_id", "knn_rank").toPandas()
    h3r = knn_h3(queries, targets, k=3, res=7).select("query_id", "neighbor_id", "knn_rank").toPandas()
    bf = bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    h3r = h3r.sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(bf, h3r)


def _street_queries(spark, world, n=40):
    """The first ``n`` street rows of the world as kNN queries, and its
    house rows as targets."""
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(n)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    return spark.createDataFrame(qpdf), targets


@pytest.mark.parametrize("tiling", ["cells", "h3"])
def test_knn_target_gate_boundary(spark, world, monkeypatch, tiling):
    """``broadcast_max_bytes`` at the measured size of the target
    projection (count x sampled row width) broadcasts it; one byte below
    joins by shuffle. Both sides give the same neighbors."""
    from nominatimwrapper_spark.functions.h3 import h3_cell_col
    from nominatimwrapper_spark.operators import spatial
    from nominatimwrapper_spark.operators.geocode import _avg_row_bytes

    queries, targets = _street_queries(spark, world)
    if tiling == "h3":
        fn, cell = spatial.knn_h3, h3_cell_col(F.col("lat"), F.col("lon"), 7)
    else:
        fn, cell = spatial.knn_cells, grid_cell_col(F.col("lat"), F.col("lon"))
    proj = targets.select(
        F.col("place_id").alias("_tid"), F.col("lat").alias("_tlat"),
        F.col("lon").alias("_tlon"), cell.alias("_tcell"),
    )
    measured = proj.count() * _avg_row_bytes(proj)
    joins = []
    real = spatial._knn_target_join

    def spy(q, t, no_bc):
        joins.append(no_bc)
        return real(q, t, no_bc)

    monkeypatch.setattr(spatial, "_knn_target_join", spy)
    got = []
    for gate, no_bc in ((measured, False), (measured - 1, True)):
        joins.clear()
        got.append(
            fn(queries, targets, k=3, broadcast_max_bytes=gate)
            .select("query_id", "neighbor_id", "knn_rank", "dist_km").toPandas()
            .sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
        )
        assert joins == [no_bc], gate
    assert len(got[0]) == 3 * 40
    pd.testing.assert_frame_equal(*got)


def test_knn_job_count(spark, world):
    """One kNN call on 40 street queries, its caller's ``toPandas``
    included, runs at most 2 Spark jobs more than measured: 9 for
    ``knn_cells`` and 12 for ``knn_h3`` at the time of writing. A
    per-ring driver loop would pay several jobs for every ring
    searched."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    queries, targets = _street_queries(spark, world)
    sc = spark.sparkContext
    jobs = {}
    for name, fn in (("knn_cells", knn_cells), ("knn_h3", knn_h3)):
        group = f"{name}-jobs"
        sc.setJobGroup(group, f"count {name} jobs")
        try:
            got = fn(queries, targets, k=3).select("query_id").toPandas()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(got) == 3 * 40, name
    assert jobs["knn_cells"] <= 9 + 2 and jobs["knn_h3"] <= 12 + 2, jobs


def test_multi_zoom_rollup_job_count(spark):
    """A five-zoom H3 rollup of the 796 default-world gazetteer points,
    its caller's ``toPandas`` included, runs in one aggregation: at most 1
    Spark job more than the 2 measured (an aggregation per zoom and a
    union of them ran 6)."""
    from nominatimwrapper_spark.functions.h3 import h3_cell_col, h3_parent_col
    from nominatimwrapper_spark.operators.spatial import multi_zoom_rollup
    from nominatimwrapper_spark.plans.flagship import world_dir

    pts = spark.read.parquet(f"{world_dir()}/gazetteer.parquet").select("lat", "lon")
    levels = [9, 8, 7, 6, 5]
    sc = spark.sparkContext
    group = "multi-zoom-rollup-jobs"
    sc.setJobGroup(group, "count multi_zoom_rollup jobs")
    try:
        out = multi_zoom_rollup(
            pts, h3_cell_col(F.col("lat"), F.col("lon"), levels[0]), h3_parent_col, levels
        ).toPandas()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs <= 2 + 1, jobs
    assert list(out.columns) == ["cell", "n", "zoom"]
    assert (out.groupby("zoom").n.sum() == 796).all() and set(out.zoom) == set(levels)


def _pentagon_cloud(n=120, seed=3):
    """Points scattered across the distortion neighborhood of the base
    cell 14 pentagon (the advisor's counterexample region: local spacing
    there approaches the global minimum the old bound used, so an
    unsound finish terminates while a closer unsearched neighbor
    exists)."""
    import numpy as np
    from nominatimwrapper_spark.functions.h3 import cell_to_latlng

    pla, plo = cell_to_latlng(np.array([0x821C07FFFFFFFFF], dtype=np.uint64))
    rng = np.random.default_rng(seed)
    lat = pla[0] + rng.uniform(-1.2, 1.2, n)
    lon = plo[0] + rng.uniform(-2.4, 2.4, n)
    return pd.DataFrame(dict(idx=range(n), lat=lat, lon=lon))


def test_knn_h3_exact_near_pentagon(spark):
    """ADVICE (round 3, high): the r*min_spacing finish bound was
    unsound for hex grid distance near pentagon-distorted regions. The
    in-reach join over each query's grid_disk must keep knn_h3
    value-identical to brute force for query/target points AT the
    distortion extreme."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    cloud = _pentagon_cloud(150)
    targets = spark.createDataFrame(
        cloud.rename(columns={"idx": "place_id"})
    )
    queries = spark.createDataFrame(
        cloud.head(40).rename(columns={"idx": "query_id"})
    )
    bf = knn_bruteforce(queries, targets, k=4).select(
        "query_id", "neighbor_id", "knn_rank", "dist_km"
    ).toPandas().sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    for res in (4, 5):
        got = knn_h3(queries, targets, k=4, res=res, max_rings=12).select(
            "query_id", "neighbor_id", "knn_rank", "dist_km"
        ).toPandas().sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(bf, got, check_like=True)


def test_knn_h3_shuffle_regime_matches_bruteforce(spark, world):
    """Above the broadcast byte gate the in-reach join degrades to a
    shuffle hash join — same values either way."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(25)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    queries = spark.createDataFrame(qpdf)

    bf = knn_bruteforce(queries, targets, k=3).select("query_id", "neighbor_id", "knn_rank").toPandas()
    nb = knn_h3(queries, targets, k=3, res=7, broadcast_max_bytes=0).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    pd.testing.assert_frame_equal(
        bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
        nb.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
    )
    cc = knn_cells(queries, targets, k=3, broadcast_max_bytes=0).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    pd.testing.assert_frame_equal(
        bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
        cc.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
    )


def test_knn_empty_queries(spark, world):
    """ADVICE (round 3, low): an empty query frame must return an empty,
    correctly-shaped result, not IndexError."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    empty_q = spark.createDataFrame([], "query_id long, lat double, lon double")
    out = knn_h3(empty_q, targets, k=3, res=7)
    assert out.count() == 0
    assert {"query_id", "neighbor_id", "dist_km", "knn_rank"} <= set(out.columns)
    out2 = knn_cells(empty_q, targets, k=3)
    assert out2.count() == 0
    assert {"query_id", "neighbor_id", "dist_km", "knn_rank"} <= set(out2.columns)


def test_knn_h3_raises_above_query_cell_cap(spark, world):
    """Above max_query_cells (the bound on the driver-side disks) the
    operator raises instead of building them."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(30)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    queries = spark.createDataFrame(qpdf)

    # cap below the distinct res-7 cell count
    with pytest.raises(ValueError, match="query cells"):
        knn_h3(queries, targets, k=3, res=7, max_query_cells=5)


def test_pip_h3_cover_truth_table(spark):
    """J9 on the H3-native cover (polygon_cover_cells): same truth table
    as the planar-grid cover, holes included."""
    polys = spark.createDataFrame(
        pd.DataFrame(
            [
                dict(
                    poly_id=1, name="holey", post_code="",
                    ring_xy=[0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0,
                             4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0],
                    ring_offsets=[0, 8, 16],
                    bbox_minx=0.0, bbox_miny=0.0, bbox_maxx=10.0, bbox_maxy=10.0,
                )
            ]
        )
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            dict(
                pid=[1, 2, 3, 4, 5, 6],
                lon=[2.0, 5.0, 11.0, 4.5, 9.999999, 0.000001],
                lat=[2.0, 5.0, 5.0, 5.9999, 9.999999, 0.000001],
            )
        )
    )
    got = point_in_polygon_join(pts, polys, cover="h3", h3_res=4).toPandas()
    assert set(got.pid) == {1, 5, 6}


def test_knn_h3_k_exceeds_targets_sphere_exhausted(spark):
    """k larger than the whole target set at a coarse res: each query's
    grid_disk covers the whole sphere, so the in-reach join returns
    every target per query (matching brute force)."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    targets = spark.createDataFrame(
        pd.DataFrame(dict(place_id=[1, 2, 3, 4],
                          lat=[10.0, -20.0, 40.0, -60.0],
                          lon=[10.0, 100.0, -120.0, -30.0]))
    )
    queries = spark.createDataFrame(
        pd.DataFrame(dict(query_id=[100, 101], lat=[0.0, 50.0], lon=[0.0, 8.0]))
    )
    bf = knn_bruteforce(queries, targets, k=10).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    got = knn_h3(queries, targets, k=10, res=0, max_rings=15).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    pd.testing.assert_frame_equal(
        bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
        got.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
    )


def _knn_run(tiling, queries, targets, **kw):
    from nominatimwrapper_spark.operators.spatial import knn_h3

    fn = knn_h3 if tiling == "h3" else knn_cells
    return (
        fn(queries, targets, **kw)
        .select("query_id", "neighbor_id", "knn_rank").toPandas()
        .sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    )


def _cutoff_layout():
    """One query at the center of its res-7 H3 cell. Targets: one in the
    query's own cell, one at a direct H3 neighbor's center, one at a
    grid-distance-2 center, and two ~100 km away. Returns (queries,
    targets) pandas."""
    from nominatimwrapper_spark.functions.h3 import cell_to_latlng, grid_rings, latlng_to_cell

    q0 = int(latlng_to_cell(np.array([50.4]), np.array([4.4]), 7)[0])
    ring1, ring2 = grid_rings([q0], 2)[0][1:]
    cells = [q0, min(ring1), min(ring2)]
    la, lo = cell_to_latlng(np.array(cells, dtype=np.uint64))
    qpdf = pd.DataFrame(dict(query_id=[7], lat=[la[0]], lon=[lo[0]]))
    tpdf = pd.DataFrame(dict(
        place_id=[1, 2, 3, 4, 5],
        lat=[la[0] + 0.002, la[1], la[2], la[0] + 0.9, la[0] - 0.9],
        lon=[lo[0], lo[1], lo[2], lo[0] + 0.9, lo[0] - 0.9],
    ))
    return qpdf, tpdf


def _in_reach(tiling, qlat, qlon, tpdf):
    """Targets whose cell is within one ring of the query's cell."""
    from nominatimwrapper_spark.functions.geo import grid_cell_scalar
    from nominatimwrapper_spark.functions.h3 import grid_disk, latlng_to_cell

    if tiling == "h3":
        disk = grid_disk(latlng_to_cell(np.array([qlat]), np.array([qlon]), 7), 1)[0]
        tc = latlng_to_cell(tpdf.lat.to_numpy(), tpdf.lon.to_numpy(), 7)
        return tpdf[[int(c) in disk for c in tc]]
    w = 360 * 32
    qc = grid_cell_scalar(qlat, qlon)
    keep = []
    for la, lo in zip(tpdf.lat, tpdf.lon):
        tc = grid_cell_scalar(la, lo)
        keep.append(max(abs(tc // w - qc // w), abs(tc % w - qc % w)) <= 1)
    return tpdf[keep]


@pytest.mark.parametrize("shuffle", [False, True])
@pytest.mark.parametrize("tiling", ["cells", "h3"])
def test_knn_max_rings_cutoff_returns_in_reach_only(spark, tiling, shuffle):
    """max_rings=1 with the k nearest targets beyond ring 1: the in-reach
    join returns whatever the disk of radius 1 holds, ranked from 1 —
    the in-reach targets only, in brute-force order."""
    qpdf, tpdf = _cutoff_layout()
    near = _in_reach(tiling, qpdf.lat[0], qpdf.lon[0], tpdf)
    assert 0 < len(near) < 4 and len(near) < len(tpdf)
    queries = spark.createDataFrame(qpdf)
    want = (
        knn_bruteforce(queries, spark.createDataFrame(near), k=4)
        .select("query_id", "neighbor_id", "knn_rank").toPandas()
        .sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    )
    got = _knn_run(
        tiling, queries, spark.createDataFrame(tpdf), k=4, max_rings=1,
        **({"broadcast_max_bytes": 0} if shuffle else {}),
    )
    assert list(got.knn_rank) == list(range(1, len(near) + 1))
    pd.testing.assert_frame_equal(want, got)


@pytest.mark.parametrize("shuffle", [False, True])
@pytest.mark.parametrize("tiling", ["cells", "h3"])
def test_knn_k_exceeds_targets_returns_every_target(spark, tiling, shuffle):
    """k larger than the whole target table, every target within
    max_rings: no query's disk holds k candidates, so each gets every
    target exactly once, in brute-force order."""
    qpdf, tpdf = _cutoff_layout()
    tpdf = tpdf.iloc[:3]
    qpdf = pd.concat([qpdf, pd.DataFrame(dict(
        query_id=[8], lat=[tpdf.lat[2] + 0.003], lon=[tpdf.lon[2]]
    ))], ignore_index=True)
    queries = spark.createDataFrame(qpdf)
    targets = spark.createDataFrame(tpdf)
    want = (
        knn_bruteforce(queries, targets, k=10)
        .select("query_id", "neighbor_id", "knn_rank").toPandas()
        .sort_values(["query_id", "knn_rank"]).reset_index(drop=True)
    )
    assert len(want) == len(qpdf) * len(tpdf)
    got = _knn_run(
        tiling, queries, targets, k=10, max_rings=4,
        **({"broadcast_max_bytes": 0} if shuffle else {}),
    )
    pd.testing.assert_frame_equal(want, got)


def test_knn_h3_global_scatter_matches_bruteforce(spark):
    """Worldwide scatter (both hemispheres, antimeridian, pentagon
    regions incidental): 300 queries x 3000 targets at res 2 —
    value-identical to brute force across the whole grid, not just the
    European synth world."""
    from nominatimwrapper_spark.operators.spatial import knn_h3

    rng = np.random.default_rng(9)
    nt, nq = 3000, 300
    tz, tl = rng.uniform(-1, 1, nt), rng.uniform(-180, 180, nt)
    targets = spark.createDataFrame(
        pd.DataFrame(dict(place_id=range(nt),
                          lat=np.degrees(np.arcsin(tz)), lon=tl))
    )
    qz, ql = rng.uniform(-1, 1, nq), rng.uniform(-180, 180, nq)
    queries = spark.createDataFrame(
        pd.DataFrame(dict(query_id=range(nq),
                          lat=np.degrees(np.arcsin(qz)), lon=ql))
    )
    bf = knn_bruteforce(queries, targets, k=3).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    got = knn_h3(queries, targets, k=3, res=2, max_rings=15).select(
        "query_id", "neighbor_id", "knn_rank"
    ).toPandas()
    pd.testing.assert_frame_equal(
        bf.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
        got.sort_values(["query_id", "knn_rank"]).reset_index(drop=True),
    )


def test_rollup_boundary_export_pipeline(spark):
    """User-journey composition: geocoded points -> H3 parent rollup
    (pure bit math) -> boundary polygon per tile, the rendering/GeoJSON
    export path. The rollup loses no point."""
    from nominatimwrapper_spark.functions.h3 import cell_to_boundary, h3_parent_col
    from nominatimwrapper_spark.plans.flagship import flagship_cached

    pts = flagship_cached(spark, "/root/testdata/sf0.001")
    tiles = (
        pts.withColumn("tile", h3_parent_col(F.col("h3_9"), 5))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = tiles.collect()
    assert len(got) > 0
    assert sum(r.n for r in got) == pts.count()
    bounds = cell_to_boundary(np.array([r.tile for r in got], dtype=np.uint64))
    assert all(len(b) in (5, 6) for b in bounds)


def test_knn_unpersists_target_cache(spark, world, monkeypatch):
    """knn_cells / knn_h3 cache the narrow target projection for the
    in-reach join; after the call returns that cache must be RELEASED
    (regression: each call leaked one cached projection into executor
    storage for the app lifetime — long-lived sessions making many kNN
    calls accrete storage until the storage fraction is exhausted).

    Deterministic check: intercept DataFrame.cache() during the calls and
    assert every frame cached inside kNN reports a non-persisted storage
    level on return (GC-based persistentRdds counting is unreliable here —
    localCheckpoint RDDs of the still-referenced RESULT legitimately
    linger until the ContextCleaner runs)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from nominatimwrapper_spark.operators.spatial import knn_cells, knn_h3

    cached = []
    orig_cache = CDF.cache

    def record_cache(self):
        cached.append(self)
        return orig_cache(self)

    monkeypatch.setattr(CDF, "cache", record_cache)

    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
    qpdf = world["gazetteer"][world["gazetteer"].place_rank == 26].head(8)[
        ["place_id", "lat", "lon"]
    ].rename(columns={"place_id": "query_id"})
    queries = spark.createDataFrame(qpdf)

    knn_cells(queries, targets, k=2).count()
    knn_h3(queries, targets, k=2).count()
    assert len(cached) >= 2  # one target projection per operator
    for df in cached:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), lvl
