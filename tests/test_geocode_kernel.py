# -*- coding: utf-8 -*-
"""Partition-local kernel parity: the single-stage mapInPandas lifecycle
(operators/geocode_kernel.py) must be value-identical to the distributed
cascade on every engineered fixture class — transformer ladder, parent
rescue, low-rank retry, similarity scores, tie-breaks, tiling, dtypes."""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pytest

from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
from nominatimwrapper_spark.operators.geocode_kernel import (
    _FIELDS,
    _sparkmin,
    _unique_queries_pdf,
    build_kernel_payload,
    cascade_kernel,
    geocode_and_tile_kernel,
    kernel_broadcast,
)
from nominatimwrapper_spark.synth import gen_world, write_world

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    w = gen_world(n_streets=120, houses_per_street=6, n_pages=50, n_per_class=6)
    d = tmp_path_factory.mktemp("kernel_world")
    write_world(str(d), w)
    w["_dir"] = str(d)
    return w


@pytest.fixture(scope="module")
def index(spark, world):
    return build_gazetteer_index(spark.read.parquet(f"{world['_dir']}/gazetteer.parquet"))


@pytest.fixture(scope="module")
def fixture_addrs(world) -> pd.DataFrame:
    return world["addresses"].rename(
        columns=dict(
            referenceKey="addr_key", streetName="street", houseNumber="housenbr",
            postCode="postcode", postName="city", countryName="country",
        )
    )[["addr_key", "street", "housenbr", "postcode", "city", "country"]]


CMP_COLS = [
    "addr_key", "method", "place_id", "place_rank", "lat", "lon",
    "transformed_address", "match_on_cleansed_house_number",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code",
    "sim_city", "out_street_name", "out_post_name", "out_house_number",
    "out_post_code", "osm_order", "street", "housenbr", "postcode", "city",
]


def test_cascade_kernel_matches_distributed_on_all_fixture_classes(
    spark, index, fixture_addrs
):
    """Every fixture class (orig/regex/libpostal/photon/nonum/nostreet/
    retry26/alt-rescue) resolves to the SAME method, place, coordinates,
    similarity scores and reported composed address on both engines."""
    exp, _ = cascade(spark.createDataFrame(fixture_addrs), index)
    exp = exp.toPandas()
    got = cascade_kernel(
        fixture_addrs.copy(), build_kernel_payload(index)
    )
    assert len(exp) == len(got)
    e = exp[CMP_COLS].sort_values("addr_key").reset_index(drop=True)
    g = got[CMP_COLS].sort_values("addr_key").reset_index(drop=True)
    for c in ("place_id", "place_rank", "osm_order"):
        e[c] = e[c].astype("int64")
        g[c] = g[c].astype("int64")
    pd.testing.assert_frame_equal(e, g, check_dtype=False)


def _int_cols(df: pd.DataFrame, cols) -> pd.DataFrame:
    df = df[cols].sort_values(["addr_key", "method", "place_id"]).reset_index(drop=True)
    for c in ("place_id", "place_rank", "osm_order"):
        df[c] = df[c].astype("int64")
    return df


@pytest.fixture(scope="module")
def photon_moves(spark, world, fixture_addrs, tmp_path_factory):
    """The fixture world plus an address photon moves to another
    locality: street S of (P1, C1) reports postcode P2 (same first two
    digits, so the photon check keeps it) and city "Neuville" in its
    address map, and a street T of the same name lies in (P2,
    "Neuville"). S misspelled in (P1, C1) is corrected by photon to S's
    output fields, which the lookup then finds as T. In the generated
    worlds a street's output postcode and city are its own, so without
    this address photon never changes a query's locality."""
    gaz = world["gazetteer"].copy()
    s = gaz[gaz.place_rank == 26].iloc[0]
    p2 = s.post_code[:2] + "99"
    moved = {k: v for k, v in s.address.items()
             if k not in ("town", "village", "city_district", "county", "city", "postcode")}
    moved.update(postcode=p2, city="Neuville")
    gaz["address"] = [moved if pid == s.place_id else a for pid, a in zip(gaz.place_id, gaz.address)]
    t = gaz.loc[gaz.place_id == s.place_id].assign(
        place_id=gaz.place_id.max() + 1, post_code=p2, city="Neuville", lat=s.lat + 0.05
    )
    gaz = pd.concat([gaz, t], ignore_index=True)
    d = tmp_path_factory.mktemp("photon_moves")
    write_world(str(d), {"gazetteer": gaz})
    name = s.name_fr
    i = name.rfind(" ") + 2
    typo = name[:i] + name[i + 1] + name[i] + name[i + 2:]
    addrs = pd.concat([fixture_addrs, pd.DataFrame([dict(
        addr_key="photon-moves", street=typo, housenbr="", postcode=s.post_code, city=s.city,
        country="Belgique",
    )])], ignore_index=True)
    return build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet")), addrs


@pytest.mark.parametrize("broadcast_ok", [True, False])
def test_locality_groups_hold_every_row_the_ladder_reaches(
    spark, photon_moves, monkeypatch, broadcast_ok
):
    """With one group per unique tuple (the group key hashes the tuple key
    instead of its locality), cascade() still equals cascade_kernel on the
    whole gazetteer, keep and reject rows, on every fixture class: each
    group holds every gazetteer row its ladder can reach, through its own
    locality, its libpostal parse's (the lpost class) and those of the
    streets photon can pick (the photon-moves address)."""
    from pyspark.sql import functions as F

    from nominatimwrapper_spark.operators import geocode
    from nominatimwrapper_spark.operators.geocode_kernel import REJECT_COLS

    index, addrs = photon_moves
    monkeypatch.setattr(geocode, "_group_col", lambda n_uq: F.xxhash64("_tk"))
    ix = index if broadcast_ok else dataclasses.replace(index, broadcast_ok=False)
    res, rej = cascade(spark.createDataFrame(addrs), ix)
    exp_keep, exp_rej, _ = cascade_kernel(
        addrs.copy(), build_kernel_payload(index), with_rejected=True
    )
    moves = exp_keep.set_index("addr_key").loc["photon-moves"]
    assert moves.method == "libpostal+regex[lpost]+photon" and moves.out_post_name == "Neuville"
    got = res.toPandas()
    assert len(got) == len(exp_keep) > 0
    pd.testing.assert_frame_equal(
        _int_cols(got, CMP_COLS), _int_cols(exp_keep, CMP_COLS), check_dtype=False
    )
    pd.testing.assert_frame_equal(
        _int_cols(rej.toPandas(), REJECT_COLS), _int_cols(exp_rej, REJECT_COLS),
        check_dtype=False,
    )


def test_gazetteer_broadcast_gate_boundary(spark, world, index):
    """The gazetteer broadcast gate on each side of its threshold: at the
    lookup bytes the gate measured (``lookup_bytes``) the index is
    broadcast and geocode_and_tile runs the partition-local kernel, one
    byte below it runs cascade(); both give the same rows."""
    from nominatimwrapper_spark.plans.flagship import geocode_and_tile

    measured = index.lookup_bytes
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    at = build_gazetteer_index(gaz, broadcast_max_bytes=measured)
    below = build_gazetteer_index(gaz, broadcast_max_bytes=measured - 1)
    assert at.broadcast_ok and not below.broadcast_ok
    pages = spark.createDataFrame(world["pages"]).localCheckpoint(eager=True)
    exp = _sorted(geocode_and_tile(pages, at))
    assert len(exp) > 0
    pd.testing.assert_frame_equal(exp, _sorted(geocode_and_tile(pages, below)))


@pytest.fixture(scope="module")
def flagship_pages(spark) -> pd.DataFrame:
    from nominatimwrapper_spark.plans.flagship import pages_from_documents

    return pages_from_documents(spark, SF_DIR).toPandas()


def _recrawled(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pages with recrawls. Every 7th url is crawled again a day later
    carrying the next page's html, so its latest addresses differ from
    the first crawl's; every 11th url (from the 4th) also has an older
    crawl carrying another page's html."""
    html, text = pdf["html"].to_numpy(), pdf["text"].to_numpy()
    day = pd.Timedelta(days=1)
    later = pdf.iloc[::7].assign(
        html=np.roll(html, -1)[::7], text=np.roll(text, -1)[::7],
        warc_ts=pdf["warc_ts"].iloc[::7] + day,
    )
    older = pdf.iloc[3::11].assign(
        html=np.roll(html, 5)[3::11], text=np.roll(text, 5)[3::11],
        warc_ts=pdf["warc_ts"].iloc[3::11] - day,
    )
    return pd.concat([pdf, later, older], ignore_index=True)


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values("addr_key").reset_index(drop=True)


def _assert_engines_agree(spark, pdf: pd.DataFrame, dedup_crawls: bool) -> None:
    """geocode_and_tile under the broadcast gate (the one-stage kernel)
    equals the same call above the gate (the distributed cascade)
    row-for-row INCLUDING dtypes."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, geocode_and_tile

    idx = gazetteer_index(spark)
    pages = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    kw = dict(dedup_crawls=dedup_crawls, validate_unique=not dedup_crawls)
    exp = _sorted(geocode_and_tile(pages, dataclasses.replace(idx, broadcast_ok=False), **kw))
    got = _sorted(geocode_and_tile(pages, idx, **kw))
    assert len(exp) > 0
    pd.testing.assert_frame_equal(exp, got)


def test_pages_kernel_matches_distributed_pipeline(spark, flagship_pages):
    """pages -> extract -> geocode -> tiles on flagship input: both engines
    agree (the sha256-pinned flagship output transitively pins the
    kernel)."""
    _assert_engines_agree(spark, flagship_pages, dedup_crawls=False)


def test_pages_kernel_matches_distributed_pipeline_with_recrawls(spark, flagship_pages):
    """With recrawls and recrawl dedup both engines keep each url's latest
    crawl and agree."""
    _assert_engines_agree(spark, _recrawled(flagship_pages), dedup_crawls=True)


def test_null_coordinate_place_tiles_to_nulls_on_both_engines(spark, world, tmp_path):
    """A gazetteer house with a null lat/lon (build_gazetteer_index does
    not reject one): both engines agree row for row, and the addresses it
    matches carry nulls in cell13, h3_9, lat_1e6 and lon_1e6 rather than
    the ids and coordinates of an invented point."""
    from nominatimwrapper_spark.plans.flagship import geocode_and_tile

    gaz = world["gazetteer"].copy()
    houses = gaz.index[gaz.place_rank == 30][::3]
    gaz.loc[houses, ["lat", "lon"]] = np.nan
    write_world(str(tmp_path), {"gazetteer": gaz})
    idx = build_gazetteer_index(spark.read.parquet(f"{tmp_path}/gazetteer.parquet"))
    pages = spark.createDataFrame(world["pages"]).localCheckpoint(eager=True)
    exp = _sorted(geocode_and_tile(pages, dataclasses.replace(idx, broadcast_ok=False)))
    got = _sorted(geocode_and_tile(pages, idx))
    pd.testing.assert_frame_equal(exp, got)
    tiles = ["cell13", "h3_9", "lat_1e6", "lon_1e6"]
    nulls = got.place_id.isin(gaz.loc[houses, "place_id"])
    assert nulls.any() and (~nulls).any()
    assert got.loc[nulls, tiles].isna().all().all()
    assert got.loc[~nulls, tiles].notna().all().all()


def test_duplicate_url_guard_on_both_regimes(spark, flagship_pages):
    """One url crawled twice: without recrawl dedup the guard raises on
    both engines before any geocoding, also when the url's pages carry no
    address (so no addr_key); with it only the latest crawl's addresses
    come back."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, geocode_and_tile

    idx = gazetteer_index(spark)
    base = flagship_pages.iloc[:30]
    recrawl = base.iloc[[0]].assign(
        html=base["html"].iloc[1], text=base["text"].iloc[1],
        warc_ts=base["warc_ts"].iloc[0] + pd.Timedelta(days=1),
    )
    pages = spark.createDataFrame(pd.concat([base, recrawl], ignore_index=True))
    bare = base.iloc[[0, 0]].assign(
        url="doc://no-address", html=b"<html><body><p>Pas d'adresse ici.</p></body></html>",
        text="Pas d'adresse ici.",
        warc_ts=base["warc_ts"].iloc[0] + pd.to_timedelta([0, 1], unit="D"),
    )
    addressless = spark.createDataFrame(pd.concat([base, bare], ignore_index=True))
    for dup in (pages, addressless):
        for ix in (idx, dataclasses.replace(idx, broadcast_ok=False)):
            with pytest.raises(ValueError, match="duplicate addr_key"):
                geocode_and_tile(dup, ix, dedup_crawls=False, validate_unique=True)

    got = _sorted(geocode_and_tile(pages, idx, dedup_crawls=True))
    latest = pd.concat([base.iloc[1:], recrawl], ignore_index=True)
    exp = _sorted(geocode_and_tile(spark.createDataFrame(latest), idx, dedup_crawls=False))
    pd.testing.assert_frame_equal(exp, got)
    first = _sorted(geocode_and_tile(spark.createDataFrame(base.iloc[[0]]), idx))
    dup_url = base["url"].iloc[0]
    assert len(first) > 0 and (got.url == dup_url).any()
    assert not got.loc[got.url == dup_url, "place_id"].isin(first.place_id).any()


def test_route_plan_is_one_exchange_and_builds_without_jobs(spark, flagship_pages):
    """Under the gate geocode_and_tile shuffles the html once (hash on url;
    the recrawl window reuses it) into the MapInPandas kernel, with no
    join, and building the plan starts no Spark job once the index's
    payload broadcast exists."""
    import re

    from nominatimwrapper_spark.plans.flagship import gazetteer_index, geocode_and_tile

    idx = gazetteer_index(spark)
    pages = spark.createDataFrame(_recrawled(flagship_pages)).localCheckpoint(eager=True)
    kernel_broadcast(idx)  # the payload build runs its own jobs, once per index
    sc = spark.sparkContext
    group = "route-plan-build"
    sc.setJobGroup(group, "geocode_and_tile plan build")
    try:
        out = geocode_and_tile(pages, idx, dedup_crawls=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "MapInPandas" in plan
    exchanges = re.findall(r"\bExchange\b.*", plan)
    assert len(exchanges) == 1 and "hashpartitioning(url#" in exchanges[0], plan
    for node in ("BroadcastHashJoin", "SortMergeJoin"):
        assert node not in plan, f"unexpected {node} in route plan:\n{plan}"
    # the exchange ships only what the kernel reads: no text, no lang
    assert _exchange_columns(out) == [["html", "url", "warc_ts"]], plan


def _exchange_columns(df) -> list[list[str]]:
    """Sorted output column names of each shuffle exchange in df's
    physical plan (AQE's initial plan, so nothing runs)."""
    node = df._jdf.queryExecution().executedPlan()
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.inputPlan()
    found, stack = [], [node]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ShuffleExchangeExec":
            out = node.output()
            found.append(sorted(out.apply(i).name() for i in range(out.size())))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def _kernel_stage_tasks(spark, group: str, df) -> tuple[int, list]:
    """Collect df under a job group; return the task count of the stage
    that ran last (the one reading the url exchange: recrawl window and
    MapInPandas kernel) and the sorted rows."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "kernel stage width")
    try:
        rows = sorted(df.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    last = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    stage = st.getStageInfo(max(last.stageIds))
    assert stage.numCompletedTasks == stage.numTasks, stage
    return stage.numTasks, rows


def test_kernel_stage_width_follows_aqe_coalescing(spark, flagship_pages):
    """AQE sizes the url exchange: the 500 fixture pages (about 0.2 MB of
    html) run the kernel in ONE Python task. With coalescing off the same
    call runs spark.sql.shuffle.partitions tasks, the full width an input
    above defaultParallelism x 1 MB gets, with identical output."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, geocode_and_tile

    idx = gazetteer_index(spark)
    # 3 input partitions: neither 1 nor the shuffle width, so the map side
    # of the exchange cannot be mistaken for the kernel stage
    pages = spark.createDataFrame(_recrawled(flagship_pages)).repartition(3)
    pages = pages.localCheckpoint(eager=True)
    n_on, rows_on = _kernel_stage_tasks(spark, "kernel-width-aqe", geocode_and_tile(pages, idx))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        n_off, rows_off = _kernel_stage_tasks(
            spark, "kernel-width-fixed", geocode_and_tile(pages, idx)
        )
    finally:
        spark.conf.set(key, prev)
    assert n_on == 1
    assert n_off == int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    assert len(rows_on) > 0 and rows_on == rows_off


def test_kernel_broadcast_lives_on_the_index(spark, index):
    """One broadcast per index object: the same object reuses it, and a
    new object (even a dataclasses.replace copy) builds its own from its
    own gazetteer rather than inheriting a stale payload."""
    bc = kernel_broadcast(index)
    assert kernel_broadcast(index) is bc
    small = dataclasses.replace(index, lookup=index.lookup.limit(5))
    assert small.kernel_bc is None
    bc_small = kernel_broadcast(small)
    assert bc_small is not bc
    n_small = sum(len(f) for f in (bc_small.value.houses, bc_small.value.streets,
                                   bc_small.value.cities))
    assert n_small == 5 < len(bc.value.houses)


def test_kernel_broadcast_built_once_under_concurrent_first_use(spark, index):
    """Checkpoint-job partitions run side by side from a thread pool: their
    first use of a fresh index builds ONE broadcast, not one per thread."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    fresh = dataclasses.replace(index)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            got = list(ex.map(lambda _: kernel_broadcast(fresh), range(8), timeout=300))
    finally:
        sys.setswitchinterval(prev)
    assert len(got) == 8 and all(b is fresh.kernel_bc for b in got)


def test_kernel_single_job_no_shuffle(spark):
    """The kernel plan is ONE narrow mapInPandas stage: no Exchange, no
    joins, no windows."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, pages_from_documents

    idx = gazetteer_index(spark)
    pages = pages_from_documents(spark, SF_DIR).localCheckpoint(eager=True)
    plan = geocode_and_tile_kernel(pages, idx)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    for node in ("Exchange", "SortMergeJoin", "BroadcastHashJoin", "Window", "HashAggregate"):
        assert node not in plan, f"unexpected {node} in kernel plan:\n{plan}"


def test_kernel_plan_builds_without_jobs(spark):
    """Building the kernel over pages whose plan still holds an exchange
    (pages_from_documents repartitions) starts no Spark job once the
    index's payload broadcast exists: the kernel never peeks at its
    input's partition count, which would run the exchange's stages."""
    from nominatimwrapper_spark.plans.flagship import gazetteer_index, pages_from_documents

    idx = gazetteer_index(spark)
    kernel_broadcast(idx)  # the payload build runs its own jobs, once per index
    pages = pages_from_documents(spark, SF_DIR)  # starts no job either
    sc = spark.sparkContext
    group = "kernel-plan-build"
    sc.setJobGroup(group, "geocode_and_tile_kernel plan build")
    try:
        out = geocode_and_tile_kernel(pages, idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "MapInPandas" in plan


def _with_job_count(spark, group: str, fn):
    """``fn()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_pages_build_starts_no_jobs(spark):
    """Building the flagship pages runs no Spark job: the house list is a
    local frame and the documents schema is declared, so nothing is
    collected or inferred before the caller's action (3 jobs per call
    when the house list was collected with toPandas)."""
    from nominatimwrapper_spark.plans.flagship import pages_from_documents

    for i in range(2):
        _, n = _with_job_count(spark, f"pages-build-{i}", lambda: pages_from_documents(spark, SF_DIR))
        assert n == 0, (i, n)


def test_cascade_route_skips_guard_after_recrawl_dedup(spark):
    """Above the broadcast gate, geocode_and_tile's default call
    (dedup_crawls=True) starts no more jobs than with validate_unique=False:
    the recrawl dedup already makes every addr_key unique, so the
    duplicate guard's jobs are not paid (2 more jobs when they were)."""
    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        geocode_and_tile,
        pages_from_documents,
    )

    idx = dataclasses.replace(gazetteer_index(spark), broadcast_ok=False)
    pages = pages_from_documents(spark, SF_DIR).localCheckpoint(eager=True)
    # a first call warms the session up; its job count can run one higher
    geocode_and_tile(pages, idx, validate_unique=False).toPandas()
    _, without = _with_job_count(
        spark, "guard-off", lambda: geocode_and_tile(pages, idx, validate_unique=False).toPandas()
    )
    out, n = _with_job_count(spark, "guard-default", lambda: geocode_and_tile(pages, idx).toPandas())
    assert n <= without, (n, without)
    assert len(out) == 500 and out.addr_key.is_unique


def test_kernel_refuses_oversized_gazetteer(spark, world):
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    big = build_gazetteer_index(gaz, broadcast_max_bytes=0)
    with pytest.raises(ValueError, match="broadcast"):
        build_kernel_payload(big)


def test_kernel_empty_and_addressless_pages(spark, index):
    """Pages with no extractable address (and empty partitions) produce an
    empty result with the exact output schema."""
    pdf = pd.DataFrame(
        {
            "url": ["doc://empty"],
            "warc_ts": [pd.Timestamp("2025-03-01")],
            "html": [b"<html><body><p>no address here</p></body></html>"],
            "text": ["no address here"],
            "lang": ["fr"],
        }
    )
    pages = spark.createDataFrame(pdf)
    out = geocode_and_tile_kernel(pages, index)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "addr_key", "url", "method", "place_id", "place_rank",
        "cell13", "h3_9", "lat_1e6", "lon_1e6",
    ]


def test_unique_queries_fast_path_matches_per_group_min():
    """An address reached by one field tuple keeps that tuple as it
    stands; only an address reached by several tuples (here one street
    split two ways, one of them with a null postcode) takes the
    per-field _sparkmin. Both give what grouping every address gives."""
    sent = pd.DataFrame({
        "addr_key": ["a", "b", "c", "d", "e"],
        "transformed_address": ["rue x 1, 1000 bxl"] * 3 + ["av y, 1050 ix", "bd z 3, uccle"],
        "street": ["rue x", "rue x 1", "rue x", "av y", "bd z"],
        "housenbr": ["1", "", "1", None, "3"],
        "postcode": ["1000", None, "1000", "1050", np.nan],
        "city": ["bxl", "bxl", "bxl", "ix", "uccle"],
        "country": [""] * 5,
    })
    got = _unique_queries_pdf(sent)
    ref = sent.groupby("transformed_address", as_index=False).agg(
        {f: _sparkmin for f in _FIELDS}
    )
    pd.testing.assert_frame_equal(got[["transformed_address"] + _FIELDS], ref)
    assert got.transformed_address.tolist() == sorted(set(sent.transformed_address))
    multi = got.iloc[2]
    assert (multi.street, multi.housenbr, multi.postcode) == ("rue x", "", "1000")
    assert got.iloc[0].housenbr is None and got.iloc[1].postcode is None
    assert got.loc[1, "q_pc"] == "" and got.loc[2, "q_pc"] == "1000"


def test_photon_pick_ties_and_elimination():
    """The photon pick over candidate streets whose street scores are
    equal: the higher importance wins; at equal importance the lower
    place_id wins, whatever the payload's row order; a candidate that
    fails the postcode/city elimination is never picked, and a tuple
    with no survivor drops out of the stage."""
    from nominatimwrapper_spark.functions.textnorm import city_key
    from nominatimwrapper_spark.operators.geocode_kernel import (
        _LOOKUP_COLS,
        KernelPayload,
        _transform_stage,
    )

    street = "Rue de la Station"
    # (place_id, importance, match postcode, match city, output postcode,
    # output city, marker in out_country_name)
    streets = [
        (10, 0.2, "1000", "Namur", "1000", "Namur", "low"),
        (11, 0.9, "1000", "Namur", "1000", "Namur", "high"),
        (21, 0.5, "2000", "Liege", "2000", "Liege", "second"),
        (20, 0.5, "2000", "Liege", "2000", "Liege", "first"),
        (31, 0.9, "3000", "Mons", "9999", "Zzzzz", "eliminated"),
        (30, 0.1, "3000", "Mons", "3000", "Mons", "kept"),
        (40, 0.9, "4000", "Arlon", "9999", "Zzzzz", "eliminated"),
    ]
    lookup = pd.DataFrame([
        dict(
            key_street="RUEDELASTATION", key_city=city_key(city), post_code=pc,
            house_number=None, place_id=pid, parent_place_id=None, place_rank=26,
            category="highway", importance=imp, lat=50.0, lon=4.0,
            out_street_name=street, out_post_name=out_city, out_house_number=None,
            out_post_code=out_pc, out_country_name=marker, out_other="", namedetails="",
        )
        for pid, imp, pc, city, out_pc, out_city, marker in streets
    ])[_LOOKUP_COLS]
    pay = KernelPayload(lookup, pd.DataFrame({"p_pid": [], "p_alts": []}))
    todo = pd.DataFrame({
        "addr_key": ["importance", "place_id", "elim", "none"],
        "street": [street] * 4,
        "housenbr": ["5"] * 4,
        "postcode": ["1000", "2000", "3000", "4000"],
        "city": ["Namur", "Liege", "Mons", "Arlon"],
        "country": ["Belgique"] * 4,
    })
    got = _transform_stage(todo, ["photon"], pay).set_index("addr_key")
    assert sorted(got.index) == ["elim", "importance", "place_id"]
    assert got.country.to_dict() == {"importance": "high", "place_id": "first", "elim": "kept"}
    assert got.loc["elim", ["postcode", "city", "housenbr"]].tolist() == ["3000", "Mons", "5"]
