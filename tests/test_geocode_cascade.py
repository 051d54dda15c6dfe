# -*- coding: utf-8 -*-
"""End-to-end cascade fixtures: every synthetic address must resolve at its
engineered transformer stage with the expected place_id / place_rank
(FIXTURES.md §3, SURVEY.md §5.2.3)."""

from __future__ import annotations

import re
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nominatimwrapper_spark.operators.geocode import (
    build_gazetteer_index,
    cascade,
)
from nominatimwrapper_spark.synth import gen_world, write_world


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    w = gen_world(n_streets=120, houses_per_street=6, n_pages=50, n_per_class=6)
    from nominatimwrapper_spark.synth import write_world

    d = tmp_path_factory.mktemp("world")
    write_world(str(d), w)
    w["_dir"] = str(d)
    return w


@pytest.fixture(scope="module")
def index(spark, world):
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    return build_gazetteer_index(gaz)


@pytest.fixture(scope="module")
def cascade_out(spark, world, index):
    a = world["addresses"]
    addr = spark.createDataFrame(
        a.rename(
            columns=dict(
                referenceKey="addr_key", streetName="street", houseNumber="housenbr",
                postCode="postcode", postName="city", countryName="country",
            )
        )[["addr_key", "street", "housenbr", "postcode", "city", "country"]]
    )
    results, rejects = cascade(addr, index)
    return results.toPandas(), rejects.toPandas(), a


def test_expected_method_and_rank(cascade_out):
    res, _rej, a = cascade_out
    res = res.set_index("addr_key")
    failures = []
    for _, row in a.iterrows():
        k = row.referenceKey
        if row.expected_method == "NOMATCH":
            if k in res.index:
                failures.append((k, row.addr_class, "matched but expected NOMATCH",
                                 res.loc[k, "method"]))
            continue
        if k not in res.index:
            failures.append((k, row.addr_class, "no match", None))
            continue
        got = res.loc[k]
        if got["method"] != row.expected_method:
            failures.append((k, row.addr_class, f"method {got['method']}", row.expected_method))
        elif int(got["place_rank"]) != int(row.expected_place_rank):
            failures.append((k, row.addr_class, f"rank {got['place_rank']}", row.expected_place_rank))
        elif int(got["place_id"]) != int(row.expected_place_id):
            failures.append((k, row.addr_class, f"pid {got['place_id']}", row.expected_place_id))
    assert not failures, f"{len(failures)} fixture mismatches: {failures[:12]}"


def test_one_result_per_key(cascade_out):
    res, _rej, _a = cascade_out
    assert res.addr_key.value_counts().max() == 1


def test_cleansed_house_number_flag(cascade_out):
    res, _rej, a = cascade_out
    res = res.set_index("addr_key")
    for _, row in a[a.addr_class == "retry26"].iterrows():
        got = res.loc[row.referenceKey]
        assert bool(got["match_on_cleansed_house_number"]), row.referenceKey
    # and never set on exact matches
    for _, row in a[a.addr_class == "orig_exact"].iterrows():
        assert not bool(res.loc[row.referenceKey, "match_on_cleansed_house_number"])


def test_original_input_restored(cascade_out):
    res, _rej, a = cascade_out
    merged = res.merge(
        a.rename(columns=dict(referenceKey="addr_key")), on="addr_key", how="inner"
    )
    assert (merged.street == merged.streetName).all()
    assert (merged.housenbr == merged.houseNumber).all()


def test_rejects_have_reason_and_distance(cascade_out):
    _res, rej, _a = cascade_out
    if len(rej):
        assert set(rej.reject_reason.unique()) <= {"mismatch", "tail"}
        with_match = rej[rej.distance_to_match.notna()]
        assert (with_match.distance_to_match >= 0).all()


def test_collapse_map_output_path(cascade_out, world):
    """A6/A7 load-bearing end-to-end: the gazetteer's nominatim-style
    address map has dynamic keys (street under road/pedestrian/square...,
    locality under town/village/...), plus suburb/state extras. The output
    path must (a) resolve out_street_name through the collapse priority
    list whatever key the street arrived under, and (b) set-collapse every
    unconsumed value into out_other."""
    res, _rej, _a = cascade_out
    gaz = world["gazetteer"].set_index("place_id")
    street_keys = {"road", "pedestrian", "footway", "cycleway", "path",
                   "address27", "construction", "hamlet", "park", "square"}
    picked_keys = street_keys | {"town", "village", "city_district", "county",
                                 "city", "house_number", "country", "postcode"}
    n_nonroad = 0
    n_other = 0
    for _, row in res.iterrows():
        amap = gaz.loc[int(row.place_id), "address"]
        skey = next((k for k in amap if k in street_keys), None)
        if skey and skey != "road":
            n_nonroad += 1
            assert row.out_street_name == amap[skey], (row.place_id, skey)
        extras = {v for k, v in amap.items() if k not in picked_keys}
        got = set(row.out_other.split(" - ")) if row.out_other else set()
        assert got == extras, (row.place_id, got, extras)
        n_other += bool(extras)
    assert n_nonroad > 0  # dynamic keys actually exercised
    assert n_other > 0    # extras actually collapsed into other


def test_extra_house_number_columns(cascade_out):
    """extraHouseNumber enrichment (reference utils.py:811-843, default-on
    API flag): in_house_number echoes the INPUT house number;
    libpostal_house_number is [house, box] parsed from the composed input."""
    res, _rej, a = cascade_out
    assert "in_house_number" in res.columns and "libpostal_house_number" in res.columns
    r = res.set_index("addr_key")
    a_idx = a.set_index("referenceKey")
    for k in r.index:
        assert r.loc[k, "in_house_number"] == (a_idx.loc[k, "houseNumber"] or "")
    # retry26 fixtures have 'N bt 2' house numbers -> split house/box
    for _, row in a[a.addr_class == "retry26"].iterrows():
        got = list(r.loc[row.referenceKey, "libpostal_house_number"])
        base = row.houseNumber.split(" bt ")[0]
        assert got == [base, "2"], (row.houseNumber, got)
    # plain numeric houses -> [n, ""]
    for _, row in a[a.addr_class == "orig_exact"].iterrows():
        got = list(r.loc[row.referenceKey, "libpostal_house_number"])
        assert got == [str(row.houseNumber), ""], (row.houseNumber, got)


EXTRA_HOUSE_NUMBER_CASES = [
    "Rue Haute 12, 1000 Bruxelles",
    "Avenue Louise 20 bte 4, 1050 Ixelles",
    "Chaussee de Gand 3b, 1080 Molenbeek",
    ", 1000 Bruxelles",
    "",
]


def test_extra_house_number_golden(engine_golden):
    """The engine's libpostal-style token stream and [house, box] join on
    the differential test's inputs equal golden values frozen from the
    engine (fixtures/engine_golden.json)."""
    from nominatimwrapper_spark.operators.geocode import (
        join_lpost_tokens,
        lpost_address_tokens,
        lpost_house_number,
    )

    g = engine_golden["lpost_house_number"]
    assert g["inputs"] == EXTRA_HOUSE_NUMBER_CASES
    assert [[list(t) for t in lpost_address_tokens(a)] for a in g["inputs"]] == g["tokens"]
    assert [lpost_house_number(a) for a in g["inputs"]] == g["house_number"]
    assert join_lpost_tokens([tuple(t) for t in g["multi_tokens"]]) == g["multi_joined"]


def test_extra_house_number_differential(refmod, monkeypatch):
    """The join/extract contract of get_lpost_house_number
    (reference utils.py:782-808) — multiple house_number tokens joined with
    ';', unit tokens with ';' — checked by feeding the reference function
    our token stream."""
    from nominatimwrapper_spark.operators.geocode import (
        join_lpost_tokens,
        lpost_address_tokens,
        lpost_house_number,
    )

    for addr in EXTRA_HOUSE_NUMBER_CASES:
        toks = lpost_address_tokens(addr)
        monkeypatch.setattr(refmod.utils, "parse_address", lambda a, t=toks: [(v, l) for v, l in t])
        ref = refmod.utils.get_lpost_house_number(addr)
        assert ref == lpost_house_number(addr), addr

    # synthetic multi-token streams: the ';' join semantics themselves
    multi = [("20", "house_number"), ("box 2", "unit"), ("22", "house_number"), ("3", "unit")]
    monkeypatch.setattr(refmod.utils, "parse_address", lambda a: [(v, l) for v, l in multi])
    assert refmod.utils.get_lpost_house_number("x") == join_lpost_tokens(multi) == ["20;22", "box 2;3"]


def test_non_broadcast_path_same_results(spark, world, index, cascade_out):
    """When the gazetteer index is too big to broadcast (broadcast_ok=False,
    byte-estimated), the candidate joins fall back to shuffle joins — the
    RESULTS must be identical to the broadcast path."""
    import dataclasses

    res_b, _, _ = cascade_out
    shuffled_index = dataclasses.replace(index, broadcast_ok=False)
    a = world["addresses"]
    addr = spark.createDataFrame(
        a.rename(
            columns=dict(
                referenceKey="addr_key", streetName="street", houseNumber="housenbr",
                postCode="postcode", postName="city", countryName="country",
            )
        )[["addr_key", "street", "housenbr", "postcode", "city", "country"]]
    )
    res_s, _ = cascade(addr, shuffled_index)
    res_s = res_s.toPandas()
    key_cols = ["addr_key", "method", "place_id", "place_rank"]
    b = res_b[key_cols].sort_values("addr_key").reset_index(drop=True)
    s = res_s[key_cols].sort_values("addr_key").reset_index(drop=True)
    pd.testing.assert_frame_equal(b, s)


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("broadcast_ok", [True, False])
def test_cascade_job_count(spark, world, index, broadcast_ok):
    """One cascade() call over the 62 fixture addresses runs the ladder as
    one cogrouped stage: 15-16 jobs in the broadcast regime and 15 in the
    shuffle regime (the per-stage Column ladder ran 272-273 and 305-308).
    with_stats adds at most one job (it added 82-86)."""
    import dataclasses

    ix = index if broadcast_ok else dataclasses.replace(index, broadcast_ok=False)
    addr = spark.createDataFrame(
        world["addresses"].rename(
            columns=dict(
                referenceKey="addr_key", streetName="street", houseNumber="housenbr",
                postCode="postcode", postName="city", countryName="country",
            )
        )[["addr_key", "street", "housenbr", "postcode", "city", "country"]]
    )
    n = _jobs_of(spark, f"cascade-{broadcast_ok}", lambda: cascade(addr, ix))
    n_stats = _jobs_of(spark, f"cascade-stats-{broadcast_ok}", lambda: cascade(addr, ix, with_stats=True))
    assert n <= 16 + 2, n
    assert n_stats <= n + 1, (n, n_stats)


def test_flagship_output_pinned(spark):
    """Value-level gate behind the rows-only ``geocode_flagship`` driver
    row: the COMPLETE sf0.001 flagship output (sorted, quantized lat/lon,
    S2 + H3 cells, methods, place ids) hashes to a pinned digest. Any
    semantic change to extraction, the cascade, scoring, or tiling breaks
    this — rerun and re-pin only after explaining the diff."""
    import hashlib

    from nominatimwrapper_spark.plans.flagship import flagship

    df = flagship(spark, "/root/testdata/sf0.001").toPandas()
    df = df[sorted(df.columns)].sort_values(["addr_key"]).reset_index(drop=True)
    assert list(df.columns) == [
        "addr_key", "cell13", "h3_9", "lat_1e6", "lon_1e6",
        "method", "place_id", "place_rank", "url",
    ]
    digest = hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()
    assert digest == (
        "e6894087f1514840596ff014640971643352b83bca3f6dd19a61700a7f6393e4"
    ), f"flagship output drifted: {digest} ({len(df)} rows)"


def test_skewed_hot_address_fanback(spark, world, index):
    """Skew path: one composed address carried by 60% of all input keys (a
    boilerplate footer address on half the crawl). Scoring runs once at the
    unique level regardless; the fan-back join must give every key of the
    hot address the identical result, exactly one row per key (AQE
    skew-join handles the physical partition split at scale)."""
    a = world["addresses"]
    origs = a[a.expected_method == "orig"]
    base = origs.iloc[0]
    cold = origs.iloc[1:]
    n_hot, n_cold = 6000, 4000
    ci = [i % len(cold) for i in range(n_cold)]
    rows = pd.DataFrame(
        dict(
            addr_key=[f"hot{i}" for i in range(n_hot)]
            + [f"cold{i}" for i in range(n_cold)],
            street=[base.streetName] * n_hot + list(cold.streetName.iloc[ci]),
            housenbr=[base.houseNumber] * n_hot + list(cold.houseNumber.iloc[ci]),
            postcode=[base.postCode] * n_hot + list(cold.postCode.iloc[ci]),
            city=[base.postName] * n_hot + list(cold.postName.iloc[ci]),
            country=[""] * (n_hot + n_cold),
        )
    )
    addr = spark.createDataFrame(rows)
    res, _ = cascade(addr, index, with_rejected=False)
    got = res.select("addr_key", "place_id").toPandas()
    assert got["addr_key"].is_unique and len(got) == n_hot + n_cold
    hot = got[got.addr_key.str.startswith("hot")]
    assert hot["place_id"].nunique() == 1  # every hot key -> same place


def test_broadcast_gate_is_byte_based(spark, world):
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    small = build_gazetteer_index(gaz)  # a synth world is far under the cap
    assert small.broadcast_ok
    tiny_cap = build_gazetteer_index(gaz, broadcast_max_bytes=1024)
    assert not tiny_cap.broadcast_ok


def _lookup_oracle(gaz: DataFrame) -> pd.DataFrame:
    """The lookup's (key_street, place_id) rows as the index built them
    when it keyed name parts one by one: every distinct part of a place's
    street name, alt names and (for a house) its parent's alt names
    exploded to its own row, keyed, filtered to non-empty keys (any key
    for a place ranked below 26) and deduplicated on (key_street,
    place_id)."""
    from nominatimwrapper_spark.functions.textnorm import street_fingerprint_key

    alt = F.col("alt_names")
    if not dict(gaz.dtypes)["alt_names"].startswith("map"):
        alt = F.map_from_entries(alt)
    g = gaz.select(
        "place_id", "parent_place_id", "place_rank", "street_name",
        F.map_values(alt).alias("alts"),
    ).toPandas()
    parent_alts = dict(zip(g.place_id, g.alts))
    rows = []
    for r in g.itertuples():
        names = [r.street_name or "", *r.alts]
        if r.place_rank == 30:
            names += list(parent_alts.get(r.parent_place_id, []))
        for part in dict.fromkeys(p for n in names for p in n.split(" - ")):
            rows.append((street_fingerprint_key(part), r.place_id, r.place_rank))
    exp = pd.DataFrame(rows, columns=["key_street", "place_id", "place_rank"])
    exp = exp[(exp.key_street != "") | (exp.place_rank < 26)]
    return exp.drop_duplicates(["key_street", "place_id"])[["key_street", "place_id"]]


@pytest.mark.parametrize("alt_names", ["entries", "map_no_address"])
def test_index_build_is_one_narrow_pass(spark, world, alt_names):
    """The index build keys every place in one Python node and deduplicates
    no rows by shuffle: at most 4 Spark jobs in a warm session (7 when
    each name part was keyed on its own row and deduplicated), one
    ArrowEvalPython node, no shuffle Exchange (the parent names join
    broadcasts), and the lookup rows of the per-part build (its oracle)
    each carrying its place's columns. Checked on the fixture gazetteer
    (alt_names and address as key/value entries) and on the same places
    with map-typed alt_names and no address column."""
    gaz = spark.read.parquet(f"{world['_dir']}/gazetteer.parquet")
    if alt_names == "map_no_address":
        gaz = gaz.withColumn("alt_names", F.map_from_entries("alt_names")).drop("address")
    built = []
    n_jobs = _jobs_of(
        spark, f"index-build-{alt_names}", lambda: built.append(build_gazetteer_index(gaz))
    )
    assert n_jobs <= 4, n_jobs
    index = built[0]
    # the cached plan as it ran (the part before AQE's initial plan)
    plan = index.lookup._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert final.count("BroadcastExchange") == 1, final
    assert not re.search(r"(?<!Broadcast)Exchange|ShuffleQueryStage", final), final

    got = index.lookup.toPandas()
    place_cols = got.drop(columns="key_street").drop_duplicates("place_id")
    exp = _lookup_oracle(gaz).merge(place_cols, on="place_id", how="left")

    def rows(df: pd.DataFrame) -> pd.DataFrame:
        return df[got.columns].sort_values(["key_street", "place_id"]).reset_index(drop=True)

    assert len(exp) > 0
    pd.testing.assert_frame_equal(rows(got), rows(exp), check_dtype=False)
    # every row of a place carries the same place columns
    assert len(got.drop(columns="key_street").astype(str).drop_duplicates()) == len(place_cols)


GOLDEN_DIR = Path(__file__).parent / "fixtures" / "cascade_golden"


def _reject_world() -> tuple[pd.DataFrame, pd.DataFrame]:
    """A small fixture world (gazetteer, cascade inputs) plus three inputs
    whose check outcome is engineered:

    - ``tail-0``: a street mapped as two ways with the same name; an
      unknown house number finds both, the less important way is a
      ``tail`` reject.
    - ``mism-0``: a house found through its own building name; the street
      check eliminates it and no alt name of its parent street rescues
      it, so it stays a ``mismatch`` reject until the city level matches.
    - ``resc-0``: a house found through an old name of its street that
      scores no similarity with the current one; the parent's alt names
      rescue it."""
    w = gen_world(n_streets=40, houses_per_street=4, n_pages=5, n_per_class=1)
    gaz = w["gazetteer"]
    streets = gaz[gaz.place_rank == 26]
    houses = gaz[gaz.place_rank == 30]
    two_ways = streets.iloc[3]
    second_way = two_ways.copy()
    second_way["place_id"] = gaz.place_id.max() + 1
    second_way["importance"] = two_ways.importance / 2
    second_way["lat"] = two_ways.lat + 0.004
    gaz = pd.concat([gaz, second_way.to_frame().T], ignore_index=True).astype(gaz.dtypes)

    def set_alt_names(place_id, names):
        at = gaz.index[gaz.place_id == place_id]
        gaz.loc[at, "alt_names"] = pd.Series([names], index=at)

    named = houses[houses.parent_place_id == streets.iloc[5].place_id].iloc[0]
    set_alt_names(named.place_id, {"name": "Residence Zephyr"})
    renamed = streets.iloc[7]
    set_alt_names(renamed.place_id, {**renamed.alt_names, "old_name": "Chemin des Tilleuls"})
    rescued = houses[houses.parent_place_id == renamed.place_id].iloc[0]

    def query(key, street, row, house):
        return dict(addr_key=key, street=street, housenbr=house, postcode=row.post_code,
                    city=row.city, country="Belgique")

    addr = pd.concat(
        [
            w["addresses"].rename(
                columns=dict(
                    referenceKey="addr_key", streetName="street", houseNumber="housenbr",
                    postCode="postcode", postName="city", countryName="country",
                )
            )[["addr_key", "street", "housenbr", "postcode", "city", "country"]],
            pd.DataFrame([
                query("tail-0", two_ways.name_fr, two_ways, "9999"),
                query("mism-0", "Residence Zephyr", named, named.house_number),
                query("resc-0", "Chemin des Tilleuls", rescued, rescued.house_number),
            ]),
        ],
        ignore_index=True,
    )
    return gaz, addr


def _golden_rows(res: DataFrame, rej: DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    keep = res.toPandas().sort_values("addr_key").reset_index(drop=True)
    keep["libpostal_house_number"] = keep["libpostal_house_number"].map(list)
    reject = (
        rej.toPandas()
        .sort_values(["addr_key", "method", "place_id", "reject_reason"])
        .reset_index(drop=True)
    )
    return keep, reject


@pytest.fixture(scope="module")
def reject_world(spark, tmp_path_factory):
    gaz, addr = _reject_world()
    d = tmp_path_factory.mktemp("reject_world")
    write_world(str(d), {"gazetteer": gaz})
    return spark.read.parquet(f"{d}/gazetteer.parquet"), spark.createDataFrame(addr)


def _assert_golden(keep: pd.DataFrame, reject: pd.DataFrame) -> None:
    exp_keep = pd.read_parquet(GOLDEN_DIR / "keep.parquet")
    exp_keep["libpostal_house_number"] = exp_keep["libpostal_house_number"].map(list)
    pd.testing.assert_frame_equal(keep, exp_keep)
    pd.testing.assert_frame_equal(reject, pd.read_parquet(GOLDEN_DIR / "reject.parquet"))


@pytest.mark.parametrize("broadcast_max_bytes", [800 * 1024 * 1024, 0])
def test_keep_and_reject_rows_pinned(spark, reject_world, broadcast_max_bytes):
    """Every column of the keep and reject rows, pinned by a golden written
    once from the checker the engine had before its decisions became
    shared pandas functions (never regenerated to make a change pass), in
    the broadcast and the shuffle regime. The golden holds a tail reject, an
    unrescued mismatch with its distance to the later match, and an
    alt-name rescue."""
    gaz, addr = reject_world
    index = build_gazetteer_index(gaz, broadcast_max_bytes=broadcast_max_bytes)
    assert index.broadcast_ok == (broadcast_max_bytes > 0)
    keep, reject = _golden_rows(*cascade(addr, index))
    assert {"tail", "mismatch"} <= set(reject.reject_reason)
    assert reject.loc[reject.addr_key == "mism-0", "distance_to_match"].notna().all()
    assert (keep.loc[keep.addr_key == "resc-0", "sim_street_which"] == "alt_names").all()
    _assert_golden(keep, reject)


def test_decisions_see_whole_groups_across_arrow_batches(spark, reject_world):
    """With one record per Arrow batch every candidate group spans many
    batches; each decision must still see all candidates of its key."""
    gaz, addr = reject_world
    index = build_gazetteer_index(gaz)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        keep, reject = _golden_rows(*cascade(addr, index))
    finally:
        spark.conf.set(conf, old)
    _assert_golden(keep, reject)


@pytest.mark.parametrize("broadcast_max_bytes", [800 * 1024 * 1024, 0])
def test_retried_house_number_shared_by_two_inputs(spark, reject_world, broadcast_max_bytes):
    """Two distinct inputs on one street whose house numbers cleanse to
    the same digits ("12 bt 2", "12 bte 3") share one low-rank retry. Both
    must get the house, flagged as a cleansed match and reporting the
    cleansed composed address, in the broadcast and the shuffle regime."""
    from nominatimwrapper_spark.functions.cleansing import clean_addr_in

    gaz, _ = reject_world
    house = gaz.filter("place_rank = 30").orderBy("place_id").first()
    hn = house.house_number
    addr = spark.createDataFrame(pd.DataFrame(
        dict(addr_key=["split-a", "split-b"], street=[house.name_fr] * 2,
             housenbr=[f"{hn} bt 2", f"{hn} bte 3"], postcode=[house.post_code] * 2,
             city=[house.city] * 2, country=["Belgique"] * 2)
    ))
    index = build_gazetteer_index(gaz, broadcast_max_bytes=broadcast_max_bytes)
    res, _ = cascade(addr, index)
    got = res.toPandas().set_index("addr_key").sort_index()
    assert list(got.index) == ["split-a", "split-b"]
    assert (got.method == "orig").all()
    assert (got.place_id == house.place_id).all() and (got.place_rank == 30).all()
    assert got.match_on_cleansed_house_number.all()
    cleansed = clean_addr_in(f"{house.name_fr}, {hn}, {house.post_code} {house.city}, Belgique")
    assert (got.transformed_address == cleansed).all()


@pytest.mark.parametrize("below_gate", [True, False])
def test_fanback_gate_boundary_keeps_golden_rows(spark, reject_world, monkeypatch, below_gate):
    """The fan-back gate on each side of its threshold: at the unique
    tuple count the ladder's rows are broadcast to the fan-back join, one
    below it the join shuffles. The keep and reject rows equal the golden
    either way."""
    from nominatimwrapper_spark.operators import geocode

    gaz, addr = reject_world
    index = build_gazetteer_index(gaz)
    n_uq = addr.select(*geocode.ADDR_COLS[1:]).distinct().count()
    monkeypatch.setattr(geocode, "_FAN_BROADCAST_MAX_UNIQUES", n_uq - (not below_gate))
    thr = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "-1")  # only the gate's hint may broadcast
    try:
        res, rej = cascade(addr, index)
        plan = res._sc._jvm.PythonSQLUtils.explainString(res._jdf.queryExecution(), "simple")
        _assert_golden(*_golden_rows(res, rej))
    finally:
        spark.conf.set(thr, old)
    assert ("BroadcastHashJoin" in plan) == below_gate, plan


@pytest.mark.parametrize("broadcast_max_bytes", [800 * 1024 * 1024, 0])
def test_step_stats_count_rejects(spark, reject_world, broadcast_max_bytes):
    """with_stats on the golden reject world, in both regimes: the orig
    stage counts the tail and the mismatch reject (two rows, two
    addresses, one mismatch), and later stages none, as the per-stage
    Column ladder counted them; without rejects the reject counts are
    left out."""
    gaz, addr = reject_world
    index = build_gazetteer_index(gaz, broadcast_max_bytes=broadcast_max_bytes)
    todo = [15, 7, 5, 4, 3, 3, 3, 3, 3, 3]
    match = [8, 2, 1, 1, 0, 0, 0, 0, 0, 2]
    _, _, stats = cascade(addr, index, with_stats=True)
    assert [(s["todo"], s["match"]) for s in stats] == list(zip(todo, match))
    assert [s["match_26"] for s in stats] == [1] + [0] * 9
    rejects = [(s["reject_rec"], s["reject_addr"], s["reject_mism"]) for s in stats]
    assert rejects == [(2, 2, 1)] + [(0, 0, 0)] * 9
    _, _, stats = cascade(addr, index, with_stats=True, with_rejected=False)
    assert [(s["todo"], s["match"]) for s in stats] == list(zip(todo, match))
    assert all(set(s) == {"method", "wall_s", "todo", "match", "match_26"} for s in stats)


def test_rejects_have_the_same_types_without_with_rejected(spark, reject_world):
    """cascade(with_rejected=False) returns an empty rejects frame with
    the column names and types that with_rejected=True gives."""
    gaz, addr = reject_world
    index = build_gazetteer_index(gaz)
    _, with_rej = cascade(addr, index)
    _, without = cascade(addr, index, with_rejected=False)
    assert without.dtypes == with_rej.dtypes
    assert without.count() == 0 < with_rej.count()


def test_lookup_has_at_most_default_parallelism_partitions(spark, world):
    """The cached lookup is coalesced to defaultParallelism: an index built
    at 16 shuffle partitions keeps no more lookup partitions than that,
    so its scans do not run one task per shuffle partition."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        index = build_gazetteer_index(spark.read.parquet(f"{world['_dir']}/gazetteer.parquet"))
    finally:
        spark.conf.set(key, old)
    n = index.lookup.rdd.getNumPartitions()
    assert 1 <= n <= spark.sparkContext.defaultParallelism
    index.lookup.unpersist()
    index.parents.unpersist()


def test_duplicate_key_guard(spark, index):
    import pandas as pd

    dup = pd.DataFrame(
        dict(addr_key=["a", "a"], street=["x", "y"], housenbr=["", ""],
             postcode=["1000", "1000"], city=["c", "c"], country=["", ""])
    )
    with pytest.raises(ValueError, match="duplicate"):
        cascade(spark.createDataFrame(dup), index)


@pytest.mark.parametrize("broadcast_max_bytes", [800 * 1024 * 1024, 0])
def test_city_key_levels_without_postcode(spark, reject_world, broadcast_max_bytes):
    """Without a postcode a query reaches its gazetteer rows through its
    city key alone: the house (level 1), the street (level 3) and, with
    no street either, the city (level 5), in both regimes."""
    gaz, _ = reject_world
    house = gaz.filter("place_rank = 30").orderBy("place_id").first()
    street = gaz.filter(f"place_id = {house.parent_place_id}").first()
    city = gaz.filter(f"place_rank = 16 AND post_code = '{house.post_code}'").first()
    addr = spark.createDataFrame(pd.DataFrame(
        dict(addr_key=["city-house", "city-street", "city-only"],
             street=[house.name_fr, house.name_fr, ""], housenbr=[house.house_number, "", ""],
             postcode=[""] * 3, city=[house.city] * 3, country=["Belgique"] * 3)
    ))
    index = build_gazetteer_index(gaz, broadcast_max_bytes=broadcast_max_bytes)
    res, _ = cascade(addr, index)
    got = res.toPandas().set_index("addr_key")
    assert (got.method == "orig").all()
    assert got.place_id.to_dict() == {
        "city-house": house.place_id, "city-street": street.place_id, "city-only": city.place_id,
    }


@pytest.mark.parametrize("broadcast_max_bytes", [800 * 1024 * 1024, 0])
def test_retry_fields_are_picked_per_group(spark, reject_world, monkeypatch, broadcast_max_bytes):
    """The low-rank retry picks its representative fields per locality
    group. Two inputs whose cleansed composed addresses coincide but whose
    localities differ (city "C" and country "Belgique", against city
    "C, Belgique" and no country) sit in different groups, so each is
    retried with its own fields: both get the house, and the second scores
    its own city, not the min of the two cities
    (geocode_kernel._unique_queries_pdf documents the pick as arbitrary;
    this pins the per-group choice). The house is the first whose two
    localities hash to different groups of two."""
    from nominatimwrapper_spark.functions.textnorm import city_compare_one
    from nominatimwrapper_spark.operators import geocode

    gaz, _ = reject_world

    def inputs(house):
        hn = house.house_number
        return pd.DataFrame(dict(
            addr_key=["loc-a", "loc-b"], street=[house.name_fr] * 2,
            housenbr=[f"{hn} bt 2", f"{hn} bte 3"], postcode=[house.post_code] * 2,
            city=[house.city, f"{house.city}, Belgique"], country=["Belgique", ""],
        ))

    index = build_gazetteer_index(gaz, broadcast_max_bytes=broadcast_max_bytes)
    houses = gaz.filter("place_rank = 30").orderBy("place_id").limit(10).collect()
    both = pd.concat([inputs(h).assign(house=i) for i, h in enumerate(houses)])
    # one group per unique tuple: two groups for the two inputs of a house
    monkeypatch.setattr(geocode, "_UQ_ROWS_PER_TASK", 1)
    tuples = geocode._unique_tuples(
        spark.createDataFrame(both.drop(columns="house")).withColumn("_tk", geocode._tuple_key())
    )
    q, _ = geocode._locality_groups(tuples, index, 2)
    fields = geocode.ADDR_COLS[1:]
    groups = both.merge(q.select(*fields, "_b").toPandas(), on=fields)
    n_groups = groups.groupby("house")._b.nunique()
    assert (n_groups == 2).any(), n_groups
    house = houses[n_groups.index[n_groups == 2].min()]
    res, _ = cascade(spark.createDataFrame(inputs(house)), index)
    got = res.toPandas().set_index("addr_key").sort_index()
    assert list(got.index) == ["loc-a", "loc-b"]
    assert (got.place_id == house.place_id).all() and got.match_on_cleansed_house_number.all()
    assert got.transformed_address.nunique() == 1
    assert got.loc["loc-a", "sim_city"] == 1.0
    assert got.loc["loc-b", "sim_city"] == city_compare_one(house.city, f"{house.city}, Belgique")


def test_gen_world_refuses_more_streets_than_distinct_names():
    """gen_gazetteer draws streets unique per (postcode, base name), 12 x 58
    = 696 of them: 696 builds, 697 raises ValueError at once instead of
    drawing forever (run in a thread so a hang fails the test)."""
    import threading

    assert (gen_world(n_streets=696, houses_per_street=1, n_pages=1, n_per_class=1)
            ["gazetteer"].place_rank.eq(26).sum() == 696)
    raised = []

    def run():
        try:
            gen_world(n_streets=697, houses_per_street=1, n_pages=1, n_per_class=1)
        except ValueError as e:
            raised.append(str(e))

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(30)
    assert not t.is_alive() and raised and "697" in raised[0], raised
