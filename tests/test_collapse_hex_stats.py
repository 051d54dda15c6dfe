# -*- coding: utf-8 -*-
"""Collapse utilities (golden values, differential vs reference), hex
tiling, step stats."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nominatimwrapper_spark.functions.cleansing import (
    clean_addr_col,
    clean_addr_in,
    collapse_fillna_col,
    collapse_set_col,
)
from nominatimwrapper_spark.functions.geo import (
    haversine_km,
    hex_cell_center,
    hex_cell_col,
    hex_cell_scalar,
)


FILLNA_IN = dict(
    a=[None, "x", None, None],
    b=["b1", None, None, "b4"],
    c=["c1", "c2", None, None],
)
SET_IN = dict(a=["x", "x", None], b=["y", "x", None], c=["x", "z", None])


def _collapse_fillna(spark, pdf):
    return (
        spark.createDataFrame(pdf)
        .select(collapse_fillna_col(F.col("a"), F.col("b"), F.col("c")).alias("o"))
        .toPandas()
        .o.where(pd.notnull, None)
        .tolist()
    )


def _collapse_set(spark, pdf):
    return (
        spark.createDataFrame(pdf)
        .select(collapse_set_col([F.col("a"), F.col("b"), F.col("c")]).alias("o"))
        .toPandas()
        .o.tolist()
    )


def test_collapse_golden(spark, engine_golden):
    for name, inputs, fn in (
        ("fillna", FILLNA_IN, _collapse_fillna),
        ("set", SET_IN, _collapse_set),
    ):
        g = engine_golden["collapse"][name]
        assert g["inputs"] == inputs
        assert fn(spark, pd.DataFrame(inputs)) == g["outputs"], name


def test_collapse_fillna_differential(spark, refmod):
    pdf = pd.DataFrame(FILLNA_IN)
    ref = refmod.utils.collapse(pdf, ["a", "b", "c"], "fillna").where(pd.notnull, None).tolist()
    assert _collapse_fillna(spark, pdf) == ref


def test_collapse_set_values(spark, refmod):
    pdf = pd.DataFrame(SET_IN)
    ref = refmod.utils.collapse(pdf, ["a", "b", "c"], "set").tolist()
    got = _collapse_set(spark, pdf)
    # the reference joins a Python set (order unstable) -> compare value SETS
    for g, r in zip(got, ref):
        assert set(g.split(" - ")) - {""} == set(r.split(" - ")) - {""}


def test_clean_addr_col_fixpoint(spark):
    """The 3-regex closed form of the comma cleanup must equal the scalar
    reference fixpoint loop on adversarial comma/space runs (the r6 rewrite
    collapsed 12 regexp_replace + 5 trims into 3 + 1)."""
    import random

    rng = random.Random(1234)
    pieces = [",", " ", "a", "b", ", ", " ,", ",,", "x y", ",,,", "  "]
    cases = [
        "", ",", " , ", ",,,,", "a", ",a,", "  ,  a  ,  ", "a, 12, 1000 B, ",
        "street, , 1000 city,", ", , , ,",
    ] + [
        "".join(rng.choice(pieces) for _ in range(rng.randint(0, 14)))
        for _ in range(500)
    ]
    pdf = pd.DataFrame({"s": cases})
    got = (
        spark.createDataFrame(pdf)
        .select(clean_addr_col(F.col("s")).alias("o"))
        .toPandas()["o"]
        .tolist()
    )
    want = [clean_addr_in(s) for s in cases]
    assert got == want


def test_hex_spark_matches_scalar(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        dict(lat=rng.uniform(49.5, 51.5, 300), lon=rng.uniform(2.5, 6.4, 300))
    )
    got = (
        spark.createDataFrame(pdf)
        .select(hex_cell_col(F.col("lat"), F.col("lon")).alias("cell"))
        .toPandas()
        .cell.tolist()
    )
    exp = [hex_cell_scalar(la, lo) for la, lo in zip(pdf.lat, pdf.lon)]
    assert got == exp


def test_hex_center_roundtrip_and_nearest():
    rng = np.random.default_rng(12)
    for la, lo in zip(rng.uniform(49.5, 51.5, 100), rng.uniform(2.5, 6.4, 100)):
        cell = hex_cell_scalar(la, lo)
        clat, clon = hex_cell_center(cell)
        # center re-encodes to the same cell
        assert hex_cell_scalar(clat, clon) == cell
        # point is closer to its own center than to any neighbor center
        d_own = (la - clat) ** 2 + (lo - clon) ** 2
        fq = cell // (1 << 21) - (1 << 20)
        fr = cell % (1 << 21) - (1 << 20)
        for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
            ncell = (fq + dq + (1 << 20)) * (1 << 21) + (fr + dr + (1 << 20))
            nlat, nlon = hex_cell_center(ncell)
            d_n = (la - nlat) ** 2 + (lo - nlon) ** 2
            assert d_own <= d_n * (1 + 1e-9)


def test_hex_parent_pinned_vectors_and_containment(spark):
    """Pinned vectors for the hex parent op + semantic invariants: the
    parent (factor-4 hex) actually contains the child's center, and the
    Spark Column math matches the scalar twin."""
    from nominatimwrapper_spark.functions.geo import (
        hex_cell_center,
        hex_cell_parent_col,
        hex_cell_parent_scalar,
    )

    # pinned vectors (lat, lon, size 0.05 cells like the driver query)
    pins = {
        (50.8466, 4.3528): (2198418227878, 2198873309353),
        (49.5, 2.5): (2198393062036, 2198867017893),
        (51.4, 6.4): (2198460170925, 2198883795115),
    }
    for (la, lo), (child_exp, parent_exp) in pins.items():
        child = hex_cell_scalar(la, lo, 0.05)
        assert child == child_exp, (la, lo, child)
        assert hex_cell_parent_scalar(child, 4) == parent_exp, (la, lo)

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        dict(lat=rng.uniform(49.5, 51.5, 200), lon=rng.uniform(2.5, 6.4, 200))
    )
    cells = [hex_cell_scalar(la, lo, 0.05) for la, lo in zip(pdf.lat, pdf.lon)]
    # Spark == scalar
    got = (
        spark.createDataFrame(pd.DataFrame(dict(cell=cells)))
        .select(hex_cell_parent_col(F.col("cell"), 4).alias("p"))
        .toPandas().p.tolist()
    )
    exp = [hex_cell_parent_scalar(c, 4) for c in cells]
    assert got == exp
    # center containment (up to exact corner ties, where a child center is
    # equidistant to two parents and either answer is a valid container):
    # the assigned parent's center is never farther than any neighbor
    # parent's center
    fq_off, span = 1 << 20, 1 << 21
    for c, p in zip(cells, exp):
        clat, clon = hex_cell_center(c, 0.05)
        plat, plon = hex_cell_center(p, 0.05 * 4)
        d_own = (clat - plat) ** 2 + (clon - plon) ** 2
        pq = p // span - fq_off
        pr = p % span - fq_off
        for dq, dr in [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]:
            ncell = (pq + dq + fq_off) * span + (pr + dr + fq_off)
            nlat, nlon = hex_cell_center(ncell, 0.05 * 4)
            d_n = (clat - nlat) ** 2 + (clon - nlon) ** 2
            assert d_own <= d_n * (1 + 1e-9), (c, p)


def test_multi_zoom_rollup_on_hex(spark):
    """F21 closure: multi_zoom_rollup runs on the hex tiling (previously
    only grid and S2 had a parent op) and conserves counts per level."""
    from nominatimwrapper_spark.functions.geo import hex_cell_parent_col
    from nominatimwrapper_spark.operators.spatial import multi_zoom_rollup

    rng = np.random.default_rng(14)
    pts = spark.createDataFrame(
        pd.DataFrame(dict(lat=rng.uniform(49.5, 51.5, 500), lon=rng.uniform(2.5, 6.4, 500)))
    )
    out = multi_zoom_rollup(
        pts,
        hex_cell_col(F.col("lat"), F.col("lon"), 0.05),
        lambda cell, lv: hex_cell_parent_col(cell, 4),
        levels=[0, 1],
    ).toPandas()
    assert out[out.zoom == 0].n.sum() == 500
    assert out[out.zoom == 1].n.sum() == 500
    assert len(out[out.zoom == 1]) < len(out[out.zoom == 0])


def test_multi_zoom_rollup_on_h3(spark):
    """The same generic hierarchical rollup over REAL H3 ids: res-9 cells
    computed once, coarser zooms by pure parent bit math, counts conserved
    and every parent at the requested resolution."""
    from nominatimwrapper_spark.functions.h3 import h3_cell_col, h3_parent_col
    from nominatimwrapper_spark.operators.spatial import multi_zoom_rollup

    rng = np.random.default_rng(15)
    pts = spark.createDataFrame(
        pd.DataFrame(dict(lat=rng.uniform(49.5, 51.5, 500), lon=rng.uniform(2.5, 6.4, 500)))
    )
    out = multi_zoom_rollup(
        pts,
        h3_cell_col(F.col("lat"), F.col("lon"), 9),
        lambda cell, lv: h3_parent_col(cell, lv),
        levels=[9, 6, 3],
    ).toPandas()
    for lv in (9, 6, 3):
        sub = out[out.zoom == lv]
        assert sub.n.sum() == 500
        assert ((sub.cell.to_numpy().astype("int64") >> 52) & 0xF == lv).all()
    assert len(out[out.zoom == 3]) < len(out[out.zoom == 6]) < len(out[out.zoom == 9])


def test_cascade_step_stats(spark, tmp_path_factory):
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
    from nominatimwrapper_spark.synth import gen_world, write_world

    d = tmp_path_factory.mktemp("stats_world")
    write_world(str(d), gen_world(n_streets=40, houses_per_street=4, n_pages=5, n_per_class=2))
    index = build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet"))
    addr = spark.read.parquet(f"{d}/addresses.parquet").selectExpr(
        "referenceKey as addr_key", "streetName as street", "houseNumber as housenbr",
        "postCode as postcode", "postName as city", "countryName as country"
    )
    res, rej, stats = cascade(addr, index, with_stats=True)
    assert stats and stats[0]["method"] == "orig"
    total_in = addr.count()
    assert stats[0]["todo"] == total_in
    # todo shrinks monotonically; matches sum to the result count
    todos = [s["todo"] for s in stats]
    assert todos == sorted(todos, reverse=True)
    assert sum(s["match"] for s in stats) == res.count()
    assert {"reject_rec", "reject_addr", "reject_mism"} <= set(stats[0].keys())
    # per-stage wall-time accounting (reference timestats, base.py:275-301)
    assert all(s["wall_s"] >= 0 for s in stats)


# the step stats the per-stage Column ladder reported on the
# test_cascade_step_stats world (method, todo, match, match_26; every
# reject count was 0), pinned when the ladder became one grouped stage
_COLUMN_LADDER_STATS = [
    ("orig", 22, 10, 2), ("regex[init]", 12, 4, 0), ("libpostal+regex[lpost]", 8, 2, 0),
    ("libpostal+regex[lpost]+photon", 6, 2, 0), ("nonum", 4, 0, 0),
    ("libpostal+regex[lpost]+nonum", 4, 0, 0), ("libpostal+regex[lpost]+photon+nonum", 4, 0, 0),
    ("photon", 4, 0, 0), ("photon+nonum", 4, 0, 0), ("nostreet", 4, 2, 0),
]


def test_cascade_step_stats_equal_the_column_ladder(spark, tmp_path_factory):
    """with_stats derives todo, match, match_26 and the reject counts from
    the ladder stage's own rows; on the test_cascade_step_stats world they
    equal what the per-stage Column ladder counted with its count() jobs."""
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
    from nominatimwrapper_spark.synth import gen_world, write_world

    d = tmp_path_factory.mktemp("stats_world_pin")
    write_world(str(d), gen_world(n_streets=40, houses_per_street=4, n_pages=5, n_per_class=2))
    index = build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet"))
    addr = spark.read.parquet(f"{d}/addresses.parquet").selectExpr(
        "referenceKey as addr_key", "streetName as street", "houseNumber as housenbr",
        "postCode as postcode", "postName as city", "countryName as country"
    )
    _, _, stats = cascade(addr, index, with_stats=True)
    assert [
        {k: v for k, v in s.items() if k != "wall_s"} for s in stats
    ] == [
        dict(method=m, todo=t, match=n, match_26=n26, reject_rec=0, reject_addr=0, reject_mism=0)
        for m, t, n, n26 in _COLUMN_LADDER_STATS
    ]
