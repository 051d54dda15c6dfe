# -*- coding: utf-8 -*-
"""Geocode cascade — the in-cluster replacement for NominatimWrapper's
per-address REST pipeline.

Reference lifecycle being reproduced (values, not architecture):

    process_addresses            utils.py:1195-1279   -> cascade()
    transform_and_process        utils.py:589-688     -> _one_stage()
    apply_transformers           utils.py:692-776     -> apply_transformers()
    process_osm (REST + parse)   utils.py:300-441     -> _process() -> _lookup_and_check()
                                                     -> geocode_kernel._process_pdf()
    osm_keep_relevant_results    check_result_utils.py:648-699 -> geocode_kernel._check_pdf()
    match_parent                 check_result_utils.py:560-644 -> geocode_kernel._parent_rescue_pdf()
    retry_with_low_place_rank    utils.py:225-299     -> geocode_kernel._retry_low_rank_pdf()
    libpostal_transformer        transformers.py:261-320 -> geocode_kernel._apply_libpostal()
    photon_transformer           transformers.py:182-247 -> geocode_kernel._photon_best_pdf()

Candidate lookup, every check decision (scoring, elimination, best per
query with its tail, parent rescue, the libpostal sanity check, the photon
re-rank) and the low-rank retry have one pandas implementation in
geocode_kernel.py, which both engines call; this module owns only the
Spark data movement around it.

Scale design: lookup, check and retry run at the unique-query level, after
a dropDuplicates on the composed address (the reference's only
optimization, utils.py:353-356 — here it is a partial-agg dedup), as one
grouped pandas stage that co-partitions the unique queries with the
gazetteer rows they can reach, on their locality (street key, postcode,
city key); the page/address corpus never shuffles for the lookup itself.
The per-stage loop shrinks the working set with a left-anti join exactly
like the reference's `chunk[~isin(done)]` (utils.py:1263). Skewed hot
addresses are handled by the unique-level dedup and by AQE skew-join on
the fan-back join.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.cleansing import (
    apply_regex_ruleset,
    collapse_map_col,
    collapse_set_col,
    compose_address_col,
)
from ..functions.geo import haversine_col
from ..functions.textnorm import city_key, street_fingerprint_key

# reference config.py:102-112
# lookup parallelism: one group of the lookup stage per this many distinct
# addresses (see _lookup_groups). A group of ~1k queries and 5-8k gazetteer
# rows is a 0.2-0.3 s pandas call (scripts/lookup_groups.py, 690-street
# synthetic world, one 4-core host) — fine-grained enough to spread real
# corpora over every core, coarse enough that micro-batch-sized inputs run
# as one call.
_UQ_ROWS_PER_TASK = 1024

# fan-back join strategy gate (guide §3.1): keep_u holds at most one row per
# distinct composed address, so when the MEASURED unique count (already an
# action byproduct in _process) is below this, broadcasting it removes the
# full-input exchange+sort the planner otherwise schedules (keep_u is a
# checkpoint scan with no size stats, so auto-broadcast never fires at plan
# time and AQE's conversion lands only after the big side's shuffle is
# already written — measured 79 MB written + re-read per 2M-page stage).
# ~200k wide rows ≈ 150 MB broadcast; above that the shuffle join is right.
# The same gate broadcasts the queried localities the lookup joins the
# gazetteer to. Both sides of it are tested in
# test_fanback_gate_boundary_keeps_golden_rows, the plan shapes in
# test_lookup_is_one_cogrouped_stage.
_FAN_BROADCAST_MAX_UNIQUES = 200_000

DEFAULT_TRANSFORMERS_SEQUENCE: list[list[str]] = [
    ["orig"],
    ["regex[init]"],
    ["libpostal", "regex[lpost]"],
    ["libpostal", "regex[lpost]", "photon"],
    ["nonum"],
    ["libpostal", "regex[lpost]", "nonum"],
    ["libpostal", "regex[lpost]", "photon", "nonum"],
    ["photon"],
    ["photon", "nonum"],
    ["nostreet"],
]

NOMINATIM_CANDIDATE_LIMIT = 50  # reference base.py:97

ADDR_COLS = ["addr_key", "street", "housenbr", "postcode", "city", "country"]


def _map_unique(s: pd.Series, fn) -> pd.Series:
    """fn over the batch's DISTINCT values only — street/city names repeat
    heavily (hot cities, shared gazetteer variants), so per-batch dedup
    cuts the normalize+fingerprint Python work by the repetition factor."""
    return s.map({v: fn(v) for v in s.unique()})


@pandas_udf(StringType())
def street_key_udf(s: pd.Series) -> pd.Series:
    return _map_unique(s, street_fingerprint_key)


@pandas_udf(StringType())
def city_key_udf(s: pd.Series) -> pd.Series:
    return _map_unique(s, city_key)


# ---------------------------------------------------------------------------
# gazetteer index
# ---------------------------------------------------------------------------


@dataclass
class GazetteerIndex:
    """Lookup-ready gazetteer. ``lookup`` has one row per (name-variant-part,
    place); ``places`` one row per place (for parent rescue)."""

    lookup: DataFrame
    places: DataFrame
    broadcast_ok: bool = True
    # the kernel's broadcast payload (geocode_kernel.kernel_broadcast),
    # built on first use; dataclasses.replace starts the copy without it
    kernel_bc: object = field(default=None, init=False, repr=False, compare=False)

    def hinted(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.broadcast_ok else df


def build_gazetteer_index(
    gaz: DataFrame, broadcast_max_bytes: int = 800 * 1024 * 1024
) -> GazetteerIndex:
    """Build the join index from a gazetteer DataFrame
    (schema per FIXTURES.md §2; alt_names as map or array<struct<key,value>>).

    Every bilingual part of every name variant (street_name parts +
    alt_names values — the index the real Nominatim builds from its name
    table) becomes a lookup row keyed by letters-only fingerprint, so any
    language/spelling variant of a query street keys into the same places.

    Broadcast is gated on ESTIMATED BYTES (sampled avg row width x row
    count), not row count — 20M wide rows is several GB and OOMs executors
    if broadcast. Under ``broadcast_max_bytes`` the one-stage kernel runs
    with the index as a broadcast payload, and the parent alt-name and
    photon joins broadcast their gazetteer side; above it those joins
    shuffle. The lookup itself (_lookup_groups) shuffles the lookup rows
    its queries can reach to their locality groups in both regimes.
    """
    alt_t = dict(gaz.dtypes).get("alt_names", "")
    alt_map = F.col("alt_names") if alt_t.startswith("map") else F.map_from_entries("alt_names")

    base = gaz.withColumn("alt_map", alt_map).withColumn(
        "namedetails",
        F.when(
            F.col("category") == "highway",
            F.array_join(F.map_values(F.col("alt_map")), " - "),
        ).otherwise(F.lit("")),
    )

    # Output-field derivation. A nominatim-style dynamic ``address`` map
    # (road/pedestrian/town/village/... keys) collapses through
    # COLLAPSE_PARAMS exactly like the reference's add_addr_out_columns
    # (utils.py:559-579): priority fillna per output field, every unconsumed
    # value set-collapsed into out_other. Flat columns are the fallback for
    # pre-normalized gazetteers.
    if "address" in gaz.columns:
        addr_t = dict(gaz.dtypes).get("address", "")
        amap = F.col("address") if addr_t.startswith("map") else F.map_from_entries("address")
        o_street = collapse_map_col(amap, "street_name")
        o_post_name = collapse_map_col(amap, "post_name")
        o_house = collapse_map_col(amap, "house_number")
        o_pc = collapse_map_col(amap, "post_code")
        o_country = collapse_map_col(amap, "country_name")
        picked = [o_street, o_post_name, o_house, o_pc, o_country]
        base = (
            base.withColumn("_o_street", F.coalesce(o_street, F.col("street_name")))
            .withColumn("_o_post_name", F.coalesce(o_post_name, F.col("city")))
            .withColumn("_o_house", F.coalesce(o_house, F.col("house_number")))
            .withColumn("_o_pc", F.coalesce(o_pc, F.col("post_code")))
            .withColumn("_o_country", F.coalesce(o_country, F.col("country")))
            .withColumn("_o_other", collapse_set_col(F.map_values(amap), minus=picked))
        )
    else:
        base = (
            base.withColumn("_o_street", F.col("street_name"))
            .withColumn("_o_post_name", F.col("city"))
            .withColumn("_o_house", F.col("house_number"))
            .withColumn("_o_pc", F.col("post_code"))
            .withColumn("_o_country", F.col("country"))
            .withColumn("_o_other", F.lit(""))
        )

    places = base.select(
        "place_id", "parent_place_id", "street_name", "alt_map", "house_number",
        "post_code", "city", "country", "lat", "lon", "place_rank", "category",
        "importance", "namedetails",
    )

    # house rows inherit their parent street's name variants (incl. old
    # names) — Nominatim finds a house through any name of its street, which
    # is what makes the parent-rescue path reachable at all.
    empty_arr = F.array().cast("array<string>")
    parent_names = base.select(
        F.col("place_id").alias("_pp_id"), F.map_values("alt_map").alias("_p_variants")
    )
    with_parent = base.join(
        parent_names, base.parent_place_id == parent_names._pp_id, "left"
    ).drop("_pp_id")

    variants = with_parent.withColumn(
        "variant_part",
        F.explode(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.array_union(
                            F.array_union(
                                F.array(F.coalesce(F.col("street_name"), F.lit(""))),
                                F.coalesce(F.map_values("alt_map"), empty_arr),
                            ),
                            F.when(F.col("place_rank") == 30, F.coalesce(F.col("_p_variants"), empty_arr))
                            .otherwise(empty_arr),
                        ),
                        lambda v: F.split(v, " - "),
                    )
                )
            )
        ),
    ).drop("_p_variants")

    lookup = (
        variants.withColumn("key_street", street_key_udf(F.col("variant_part")))
        .withColumn("key_city", city_key_udf(F.col("city")))
        # empty-name parts only meaningful for city-level rows
        .filter((F.col("key_street") != "") | (F.col("place_rank") < 26))
        .select(
            "key_street", "key_city", "post_code", "house_number", "place_id",
            "parent_place_id", "place_rank", "category", "importance", "lat", "lon",
            F.coalesce("_o_street", F.lit("")).alias("out_street_name"),
            F.col("_o_post_name").alias("out_post_name"),
            F.col("_o_house").alias("out_house_number"),
            F.col("_o_pc").alias("out_post_code"),
            F.col("_o_country").alias("out_country_name"),
            F.col("_o_other").alias("out_other"),
            "namedetails",
        )
        .dropDuplicates(["key_street", "place_id"])
    )

    lookup = lookup.cache()
    n = lookup.count()
    est_bytes = n * _avg_row_bytes(lookup)
    return GazetteerIndex(
        lookup=lookup, places=places.cache(), broadcast_ok=est_bytes <= broadcast_max_bytes
    )


def _avg_row_bytes(df: DataFrame, sample_rows: int = 2000) -> int:
    """Average serialized row width from a small sample — JSON length is a
    (conservative, field-names-repeated) over-estimate of the broadcast
    relation's per-row cost."""
    # TABLESAMPLE over the whole table, not limit() — limit reads only the
    # first partition(s), which biases the estimate when row width correlates
    # with write order (e.g. gazetteer sorted by place_rank)
    row = (
        df.sample(fraction=0.01, seed=7)
        .limit(sample_rows)
        .select(F.length(F.to_json(F.struct(*df.columns))).alias("_w"))
        .agg(F.avg("_w").alias("w"))
        .first()
    )
    if row["w"] is None:  # tiny table: the 1% sample can be empty
        row = (
            df.limit(sample_rows)
            .select(F.length(F.to_json(F.struct(*df.columns))).alias("_w"))
            .agg(F.avg("_w").alias("w"))
            .first()
        )
    return int(row["w"] or 0) + 16  # + per-row object overhead


# ---------------------------------------------------------------------------
# unique queries and their lookup, check and retry (the Nominatim analog)
# ---------------------------------------------------------------------------


def _unique_queries(addr: DataFrame) -> DataFrame:
    """Dedup on the composed address before the (expensive) lookup —
    reference utils.py:353-356. The same shuffle also counts how many input
    keys each distinct address carries (``_n_keys``): downstream control
    flow (matched-row counts, the everyone-matched short-circuit) then
    never needs an extra pass over the fanned input.

    Representative fields: when two different field splits compose to the
    same transformed_address (housenbr folded into street vs separate),
    ONE representative's fields drive the low-rank retry for all keys of
    that address. The reference's pre-lookup dropDuplicates is equally
    arbitrary (utils.py:353-356); we use min() so the pick is at least
    deterministic across runs/partitionings (documented parity edge)."""
    return (
        addr.select("transformed_address", "street", "housenbr", "postcode", "city", "country")
        .groupBy("transformed_address")
        .agg(
            *[F.min(c).alias(c) for c in ("street", "housenbr", "postcode", "city", "country")],
            F.count(F.lit(1)).alias("_n_keys"),
        )
        .withColumn("q_street_key", street_key_udf(F.col("street")))
        .withColumn("q_city_key", city_key_udf(F.col("city")))
        .withColumn("q_pc", F.coalesce(F.col("postcode"), F.lit("")))
        .withColumn("q_house", F.coalesce(F.col("housenbr"), F.lit("")))
    )


# the grouped stage's output: the composed address, the candidate's
# gazetteer payload, its position in Nominatim's order, the check's columns
# (reject_reason null on the keep rows) and the retry's splice columns
_PAYLOAD_COLS = [
    "place_id", "parent_place_id", "place_rank", "lat", "lon", "out_street_name",
    "out_post_name", "out_house_number", "out_post_code", "out_country_name",
    "out_other", "namedetails",
]
_STAGE_FIELDS = [
    StructField("osm_order", IntegerType()),
    StructField("sim_street", DoubleType()),
    StructField("sim_street_which", StringType()),
    StructField("sim_house_number", DoubleType()),
    StructField("sim_post_code", DoubleType()),
    StructField("sim_city", DoubleType()),
    StructField("reject_reason", StringType()),
    StructField("_retry_ta", StringType()),
    StructField("match_on_cleansed_house_number", BooleanType()),
]


def _fan_small(index: GazetteerIndex, n_uq: int) -> bool:
    """The fan-back gate: broadcast the unique-level side of a join."""
    return index.broadcast_ok and n_uq <= _FAN_BROADCAST_MAX_UNIQUES


def _lookup_groups(
    uq: DataFrame, index: GazetteerIndex, n_uq: int
) -> tuple[DataFrame, DataFrame]:
    """The two sides of the lookup stage, every row tagged with its group
    ``_b``: the unique queries, and the gazetteer rows their group can
    reach, each with its street parent's alt names (``p_alts``).

    A query's group is the hash of its locality (street key, postcode,
    city key) over ceil(n_uq / _UQ_ROWS_PER_TASK) groups. Every lookup
    level matches the street key plus the postcode or the city key (city
    rows, rank < 26, under the empty street key of the no-street queries),
    so the rows a locality can reach are those of two equi-joins: on street
    key and postcode, and on street key and city key. A row goes to the
    group of each locality that reaches it and to no other: a common
    street name does not pull every town's houses into one group, and the
    no-street queries spread over their localities, each group holding
    only the city rows its queries name. A retried house number keeps its
    query's locality, so its houses are in the group too. The locality
    side is broadcast under the fan-back gate; the parent alt names join
    on parent_place_id under the index's broadcast gate."""
    n_groups = max(1, -(-n_uq // _UQ_ROWS_PER_TASK))
    b = F.pmod(F.xxhash64("q_street_key", "q_pc", "q_city_key"), F.lit(n_groups))
    q = uq.withColumn("_b", b)
    loc = (
        uq.select("q_street_key", "q_pc", "q_city_key").distinct()
        .select(F.col("q_street_key").alias("_sk"), "q_pc", "q_city_key", b.alias("_b"))
    )
    hint = F.broadcast if _fan_small(index, n_uq) else (lambda df: df)
    lk = index.lookup.withColumn(
        "_sk", F.when(F.col("place_rank") < 26, F.lit("")).otherwise(F.col("key_street"))
    )
    by_pc = lk.join(
        hint(loc.select("_sk", F.col("q_pc").alias("post_code"), "_b").distinct()),
        ["_sk", "post_code"],
    )
    # a row the postcode join already sends to this locality is not sent twice
    by_city = lk.join(
        hint(loc.filter(F.col("q_city_key") != "").withColumnRenamed("q_city_key", "key_city")),
        ["_sk", "key_city"],
    ).filter(~F.col("post_code").eqNullSafe(F.col("q_pc")))
    lk = by_pc.unionByName(by_city.drop("q_pc")).drop("_sk")
    parents = index.hinted(
        index.places.filter(F.col("category") == "highway").select(
            F.col("place_id").alias("p_pid"), F.map_values("alt_map").alias("p_alts")
        )
    )
    return q, lk.join(parents, lk.parent_place_id == parents.p_pid, "left").drop("p_pid")


def _lookup_group_pdf(q: pd.DataFrame, g: pd.DataFrame, check_results: bool) -> pd.DataFrame:
    """One group of the lookup stage: the kernel's _process_pdf over the
    group's queries ``q`` with a KernelPayload built from its gazetteer
    rows ``g``, the rescue pool from the parent alt names they carry.
    Returns the keep rows, then the reject rows."""
    from .geocode_kernel import _LOOKUP_COLS, KernelPayload, _process_pdf

    # a row reaching two localities of one group arrives twice
    g = g.drop_duplicates(["key_street", "place_id"])
    pay = KernelPayload(g[_LOOKUP_COLS], pd.DataFrame(columns=["place_id", "category", "alt_map"]))
    par = g.loc[g.p_alts.notna(), ["parent_place_id", "p_alts"]].drop_duplicates("parent_place_id")
    pay.parents = pd.DataFrame(
        {"p_pid": par.parent_place_id.to_numpy(), "p_alts": [list(a) for a in par.p_alts]}
    )
    keep, reject = _process_pdf(q, pay, check_results)
    return pd.concat([keep, reject], ignore_index=True)


def _lookup_and_check(
    uq: DataFrame, index: GazetteerIndex, check_results: bool, n_uq: int
) -> DataFrame:
    """Lookup, check, parent rescue and low-rank retry of the unique
    queries — process_osm (utils.py:300-441) with retry_with_low_place_rank
    (:225-299) — as _lookup_group_pdf, called once per locality group of
    _lookup_groups: ``q.groupBy("_b").cogroup(lk.groupBy("_b"))``.

    Returns a row per kept query (retries spliced in) and per rejected
    candidate."""
    q, lk = _lookup_groups(uq, index, n_uq)
    schema = StructType(
        [uq.schema["transformed_address"]]
        + [index.lookup.schema[c] for c in _PAYLOAD_COLS]
        + _STAGE_FIELDS
    )
    names = schema.fieldNames()

    def stage(q: pd.DataFrame, g: pd.DataFrame) -> pd.DataFrame:
        out = _lookup_group_pdf(q, g, check_results)
        return out[names] if len(out) else pd.DataFrame(columns=names)

    return q.groupBy("_b").cogroup(lk.groupBy("_b")).applyInPandas(stage, schema)


def _whole_groups(batches, key: str):
    """Re-cut the Arrow batches of a partition sorted on ``key`` so that
    every frame yielded holds all rows of each of its keys: a key's rows
    may span batches, and a decision must see all of them."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        last = (pdf[key] == pdf[key].iloc[-1]).to_numpy()
        carry = pdf.loc[last]
        if not last.all():
            yield pdf.loc[~last].reset_index(drop=True)
    if carry is not None:
        yield carry.reset_index(drop=True)


def _map_groups(df: DataFrame, key: str, fn, schema: StructType) -> DataFrame:
    """``fn`` (pandas -> pandas) over whole ``key`` groups: one hash
    exchange on the key, a sort within partitions, one mapInPandas."""
    return (
        df.repartition(key)
        .sortWithinPartitions(key)
        .mapInPandas(lambda it: map(fn, _whole_groups(it, key)), schema)
    )


# ---------------------------------------------------------------------------
# one lookup+check pass with its retry, one transformer stage
# ---------------------------------------------------------------------------


def _process(
    addr: DataFrame, index: GazetteerIndex, check_results: bool
) -> tuple[DataFrame, DataFrame, int, DataFrame | None]:
    """process_osm analog (utils.py:300-441) with its low-rank retry.

    Lookup, check (scoring, elimination, best per address, parent rescue)
    and the retry run at the UNIQUE-composed-address level — O(distinct
    addresses), the reference's own dedup optimization (utils.py:353-356)
    extended through the checker. Only the final keep/reject fan back to
    page keys — ONE pass over the input per stage; no control-flow action
    ever touches the fanned frame. Outcomes are identical because every key
    of one composed address shares the same candidates, scores, and
    verdicts.

    Returns (keep, reject, n_keep, unmatched): n_keep is the fanned keep
    row count via unique-level multiplicities; unmatched (when the input
    carries _orig) is the rebuilt not-matched todo set — both byproducts
    the cascade loop uses instead of re-scanning the fan.
    """
    uq = _unique_queries(addr)
    # TINY (one row per distinct composed address) but its plan is a full
    # dedup pass over the input: eager-materialize so the grouped stage,
    # the count and n_keep read the materialized rows instead of
    # re-triggering the 2M-row dedup
    uq = uq.localCheckpoint(eager=True)
    n_uq = uq.count()
    # per-address key multiplicities stay OUT of the lookup stage (they
    # would otherwise ride the fan-back join into the output schema)
    uq_counts = uq.select("transformed_address", "_n_keys")
    ukey = "transformed_address"
    small = _fan_small(index, n_uq)
    # Pin the CHECKED unique frame: matched_tas (n_keep count + unmatched
    # anti-join) and both fan-back joins read it — without this the grouped
    # stage re-executes for each of those actions. At most 50 candidate
    # rows per distinct address, so materializing it is cheap.
    checked = _lookup_and_check(uq.drop("_n_keys"), index, check_results, n_uq)
    checked = checked.localCheckpoint(eager=True)
    keep_u = checked.filter(F.col("reject_reason").isNull()).drop("reject_reason")
    reject_u = checked.filter(F.col("reject_reason").isNotNull())

    # fan back to every input key (reference utils.py:394); the fan side
    # supplies the query fields and carries the _orig payload struct
    # (caller columns + original address fields) so the cascade never needs
    # a full-input restore join.
    carry = ["_orig"] if "_orig" in addr.columns else []
    fan = addr.select(ADDR_COLS + ["transformed_address"] + carry)
    # keep_u is ≤ one row per distinct address and already materialized —
    # broadcast it under the measured-size gate so the (large) fan side is
    # never exchanged for this join. Off in the no-broadcast regime to keep
    # that plan shape pure shuffle (test_lookup_is_one_cogrouped_stage).
    keep = fan.join(F.broadcast(keep_u) if small else keep_u, on=ukey, how="inner")
    # retried rows report their CLEANSED composed address, like the
    # reference's retry results (utils.py:272-276)
    keep = keep.withColumn(ukey, F.coalesce(F.col("_retry_ta"), F.col(ukey))).drop("_retry_ta")
    reject = fan.join(reject_u, on=ukey, how="inner")

    # Control-flow byproducts at the UNIQUE level, so the cascade loop never
    # scans the fanned input again just to count or shrink:
    # - n_keep: how many fanned rows ``keep`` holds, as sum of multiplicities
    #   over the matched distinct addresses;
    # - unmatched: the next todo set, rebuilt from the carried _orig payload
    #   through a unique-key anti-join (small side -> AQE broadcasts it)
    #   instead of a full-input shuffle on addr_key.
    matched_tas = keep_u.select(ukey).distinct()
    if small:
        # one narrow string column, ≤ n_uq rows: broadcast the anti-join's
        # small side at plan time instead of waiting for AQE
        matched_tas = F.broadcast(matched_tas)
    row = uq_counts.join(matched_tas, on=ukey, how="inner").agg(F.sum("_n_keys")).first()
    n_keep = int(row[0] or 0)
    unmatched = None
    if carry:
        unmatched = (
            addr.select("transformed_address", "addr_key", "_orig")
            .join(matched_tas, on=ukey, how="left_anti")
            .select(
                "addr_key",
                *[F.col(f"_orig.{c}").alias(c) for c in ADDR_COLS[1:]],
                "_orig",
            )
        )
    return keep, reject, n_keep, unmatched


# ---------------------------------------------------------------------------
# transformers
# ---------------------------------------------------------------------------

_COUNTRY_WORDS = {"belgique", "belgie", "belgië", "belgium", "be"}
_PC_SEG = re.compile(r"(?:^|\s)([A-Z]?-?\d{4})(?:\s|$)")
_HOUSE_SEG = re.compile(r"^\d{1,5}[a-zA-Z]?$|^\d{1,5}\s*(?:bt|bte|bus|box|b)\.?\s*\w{1,4}$", re.IGNORECASE)
_TRAILING_HOUSE = re.compile(
    r"^(.*?[^\s\d])\s+(\d{1,5}[a-zA-Z]?(?:\s*(?:bt|bte|bus|box)\.?\s*\w{1,4})?)$",
    re.IGNORECASE,
)


def parse_address_rule_based(full: str | None) -> dict[str, str | None]:
    """Deterministic libpostal-style parser for composed addresses
    ("street, house, postcode city, country"). This is the in-cluster
    analog of the reference's libpostal REST service
    (transformers.py:261-320); fixtures define its contract
    (SURVEY.md stage-2 note — the exact ML parser is not reproducible
    without the service)."""
    out: dict[str, str | None] = {
        "road": None, "house_number": None, "postcode": None, "city": None, "country": None
    }
    if not full:
        return out
    for part in (p.strip() for p in full.split(",")):
        if not part:
            continue
        if part.lower() in _COUNTRY_WORDS:
            if out["country"] is None:
                out["country"] = part
            continue
        m = _PC_SEG.search(part)
        if m and out["postcode"] is None:
            out["postcode"] = m.group(1)
            rest = (part[: m.start()] + " " + part[m.end() :]).strip()
            if rest and out["city"] is None:
                out["city"] = rest
            continue
        if _HOUSE_SEG.match(part) and out["house_number"] is None and out["road"] is not None:
            out["house_number"] = part
            continue
        if out["road"] is None:
            t = _TRAILING_HOUSE.match(part)
            if t:
                out["road"] = t.group(1)
                out["house_number"] = t.group(2)
            else:
                out["road"] = part
            continue
        if out["city"] is None:
            out["city"] = part
    return out


# ---------------------------------------------------------------------------
# extraHouseNumber enrichment (reference utils.py:782-843, API default true
# nominatimwrapper.py:497, applied post-restore at utils.py:1273-1274)
# ---------------------------------------------------------------------------

_HOUSE_UNIT = re.compile(r"^(\d{1,5}[a-zA-Z]?)\s*(?:bt|bte|bus|box|b)\.?\s*(\w{1,4})$", re.IGNORECASE)


def split_house_unit(housenbr: str | None) -> tuple[str, str]:
    """Split a house field into (house_number, unit): '12 bte 4' ->
    ('12', '4'); plain '12b' -> ('12b', '')."""
    if not housenbr:
        return "", ""
    m = _HOUSE_UNIT.match(housenbr.strip())
    if m:
        return m.group(1), m.group(2)
    return housenbr.strip(), ""


def lpost_address_tokens(full: str | None) -> list[tuple[str, str]]:
    """libpostal-style (value, label) token list from the rule-based parser,
    with the house field split into house_number vs unit labels the way
    libpostal labels box numbers."""
    parsed = parse_address_rule_based(full)
    toks: list[tuple[str, str]] = []
    for label in ("road", "house_number", "postcode", "city", "country"):
        v = parsed[label]
        if not v:
            continue
        if label == "house_number":
            h, u = split_house_unit(v)
            if h:
                toks.append((h, "house_number"))
            if u:
                toks.append((u, "unit"))
        else:
            toks.append((v, label))
    return toks


def join_lpost_tokens(tokens: list[tuple[str, str]]) -> list[str]:
    """The reference's get_lpost_house_number join contract
    (utils.py:800-801): every house_number token joined with ';', every
    unit token joined with ';' -> [housenbr, boxnbr]."""
    return [
        ";".join(v for v, lbl in tokens if lbl == "house_number"),
        ";".join(v for v, lbl in tokens if lbl == "unit"),
    ]


def lpost_house_number(full: str | None) -> list[str]:
    return join_lpost_tokens(lpost_address_tokens(full))


@pandas_udf(ArrayType(StringType()))
def _lpost_house_number_udf(full: pd.Series) -> pd.Series:
    return full.map(lpost_house_number)


def add_extra_house_number(results: DataFrame) -> DataFrame:
    """Attach in_house_number (the INPUT house number) and
    libpostal_house_number ([house, box] parsed from
    'street housenbr, postcode city' — the same composed string the
    reference sends to libpostal, utils.py:838)."""
    full = F.trim(
        F.concat(
            F.coalesce(F.col("street"), F.lit("")), F.lit(" "),
            F.coalesce(F.col("housenbr"), F.lit("")), F.lit(", "),
            F.coalesce(F.col("postcode"), F.lit("")), F.lit(" "),
            F.coalesce(F.col("city"), F.lit("")),
        )
    )
    return results.withColumn(
        "in_house_number", F.coalesce(F.col("housenbr"), F.lit(""))
    ).withColumn("libpostal_house_number", _lpost_house_number_udf(full))


def _addr_schema(addr: DataFrame) -> StructType:
    return StructType(
        [addr.schema["addr_key"]] + [StructField(c, StringType()) for c in ADDR_COLS[1:]]
    )


def libpostal_transformer(addr: DataFrame, check_results: bool) -> DataFrame:
    """Parse the composed address and substitute parsed fields
    (reference transformers.py:261-320) — the kernel's _apply_libpostal,
    which under check_results drops the rows whose parse fails the
    elimination rule against their own input fields."""
    from .geocode_kernel import _apply_libpostal

    return addr.select(ADDR_COLS).mapInPandas(
        lambda it: (_apply_libpostal(pdf, check_results) for pdf in it), _addr_schema(addr)
    )


def photon_transformer(addr: DataFrame, index: GazetteerIndex, check_results: bool = True) -> DataFrame:
    """Fuzzy street correction — the in-cluster Photon analog
    (transformers.py:182-247): the street places of the query's locality
    (postcode or city fingerprint), joined under the index's broadcast
    gate, then re-ranked per addr_key by the kernel's _photon_best_pdf."""
    from .geocode_kernel import _photon_best_pdf

    q = (
        addr.select(ADDR_COLS)
        .withColumn("q_city_key", city_key_udf(F.col("city")))
        .withColumn("q_pc", F.coalesce(F.col("postcode"), F.lit("")))
    )
    streets = index.hinted(
        index.lookup.filter(F.col("place_rank") == 26).select(
            "key_city", "post_code", "importance", "place_id",
            F.col("out_street_name").alias("ph_street"),
            F.col("out_post_name").alias("ph_city"),
            F.col("out_post_code").alias("ph_postcode"),
            F.col("out_country_name").alias("ph_country"),
        ).dropDuplicates(["place_id"])
    )

    by_pc = q.filter(F.col("q_pc") != "").join(streets, F.col("q_pc") == streets.post_code)
    by_city = q.filter(F.col("q_city_key") != "").join(streets, F.col("q_city_key") == streets.key_city)
    return _map_groups(
        by_pc.unionByName(by_city),
        "addr_key",
        lambda pdf: _photon_best_pdf(pdf, "addr_key", check_results)[ADDR_COLS],
        _addr_schema(addr),
    )


def apply_transformers(
    addr: DataFrame, transformers: list[str], index: GazetteerIndex, check_results: bool
) -> DataFrame:
    """Sequentially apply a transformer list, then keep only rows actually
    CHANGED by the sequence (case-insensitive 5-field compare vs the
    originals) — reference apply_transformers utils.py:692-776."""
    carry = ["_orig"] if "_orig" in addr.columns else []
    if transformers == ["orig"]:
        return addr.select(ADDR_COLS + carry)

    out = addr.select(ADDR_COLS)
    for t in transformers:
        if t == "orig":
            continue
        m = re.match(r"regex\[([a-z]+)\]", t)
        if m:
            s, h = apply_regex_ruleset(F.col("street"), F.col("housenbr"), m.group(1))
            out = out.withColumn("street", s).withColumn("housenbr", h)
        elif t == "nonum":
            out = out.withColumn("housenbr", F.lit(""))
        elif t == "nostreet":
            out = out.withColumn("housenbr", F.lit("")).withColumn("street", F.lit(""))
        elif t == "nozip":
            out = out.withColumn("postcode", F.lit(""))
        elif t == "nocountry":
            out = out.withColumn("country", F.lit(""))
        elif t == "libpostal":
            out = libpostal_transformer(out, check_results)
        elif t == "photon":
            out = photon_transformer(out, index, check_results)
        else:
            raise ValueError(f"unknown transformer {t!r}")

    orig = addr.select(
        "addr_key", *[F.col(c).alias(f"_o_{c}") for c in ADDR_COLS[1:]], *carry
    )
    joined = out.join(orig, on="addr_key", how="inner")
    changed = F.lit(False)
    for c in ADDR_COLS[1:]:
        changed = changed | (
            F.lower(F.coalesce(F.col(c).cast("string"), F.lit("")))
            != F.lower(F.coalesce(F.col(f"_o_{c}").cast("string"), F.lit("")))
        )
    return joined.filter(changed).select(ADDR_COLS + carry)


# ---------------------------------------------------------------------------
# cascade driver
# ---------------------------------------------------------------------------

RESULT_COLS = [
    "addr_key", "method", "place_id", "parent_place_id", "place_rank", "lat", "lon",
    "out_street_name", "out_post_name", "out_house_number", "out_post_code",
    "out_country_name", "out_other", "namedetails", "osm_order",
    "transformed_address", "match_on_cleansed_house_number",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code", "sim_city",
]
REJECT_EXTRA = ["reject_reason"]


def _one_stage(
    todo: DataFrame, transformers: list[str], index: GazetteerIndex, check_results: bool
) -> tuple[DataFrame, DataFrame, int, DataFrame | None]:
    """transform_and_process analog (utils.py:589-688). Returns
    (keep, reject, n_keep, unmatched-todo) — the last two computed at the
    unique-address level inside _process (no extra pass over the fan)."""
    method = "+".join(transformers)
    if transformers == ["orig"] and "_ta0" in todo.columns:
        # the orig stage's composed address was precomputed INTO the input
        # checkpoint (cascade below): both the dedup pass and the fan-back
        # pass read it as stored bytes instead of re-running the regex
        # composition over every input row (the single hottest JVM
        # expression of the job — measured ~2x the whole scoring pipeline
        # at 2M pages).
        carry0 = ["_orig"] if "_orig" in todo.columns else []
        sent = todo.select(
            *ADDR_COLS, *carry0, F.col("_ta0").alias("transformed_address")
        )
    else:
        transformed = apply_transformers(todo, transformers, index, check_results)
        sent = transformed.withColumn(
            "transformed_address",
            compose_address_col(
                F.col("street"), F.col("housenbr"), F.col("postcode"), F.col("city"), F.col("country")
            ),
        )
    if transformers != ["orig"]:
        # transformer stages run UDF joins (libpostal/photon) — materialize
        # once so the multiple consumers (dedup, fan-back, retry) don't
        # re-run them. The orig stage is a pure Column op over the already
        # checkpointed todo set: materializing it would rewrite every input
        # row once more just to add one column.
        sent = sent.localCheckpoint(eager=True)

    keep, reject, n_keep, unmatched = _process(sent, index, check_results)
    if unmatched is not None and transformers != ["orig"]:
        # the changed-rows filter (and any transformer dropout) removed rows
        # from ``sent`` before _process saw them — they are unmatched too.
        # Small-vs-small anti-join: todo at transformer stages is the
        # already-shrunken no-match tail, sent is checkpointed.
        dropped = todo.join(sent.select("addr_key"), on="addr_key", how="left_anti")
        unmatched = unmatched.unionByName(dropped.select(*unmatched.columns))

    keep = keep.withColumn("method", F.lit(method))
    reject = reject.withColumn("method", F.lit(method))
    keep_cols = RESULT_COLS + ["street", "housenbr", "postcode", "city", "country"]
    if "_orig" in keep.columns:
        keep_cols = keep_cols + ["_orig"]
    return _conform(keep, keep_cols), _conform(reject, RESULT_COLS + REJECT_EXTRA), n_keep, unmatched


def _conform(df: DataFrame, cols: list[str]) -> DataFrame:
    have = set(df.columns)
    sel = []
    for c in cols:
        if c == "match_on_cleansed_house_number":
            src = F.col(c) if c in have else F.lit(None).cast("boolean")
            sel.append(F.coalesce(src, F.lit(False)).alias(c))
        elif c in have:
            sel.append(F.col(c))
        else:
            sel.append(F.lit(None).cast("string").alias(c))
    return df.select(sel)


def _is_materialized(df: DataFrame) -> bool:
    """True when the frame's plan is already a materialized row scan
    (localCheckpoint / RDD-backed) rather than a computation."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:  # pragma: no cover - py4j surface change
        return False


def cascade(
    addresses: DataFrame,
    index: GazetteerIndex,
    check_results: bool = True,
    transformers_sequence: list[list[str]] | None = None,
    with_rejected: bool = True,
    with_stats: bool = False,
    validate_unique: bool = True,
    with_extra_house_number: bool = True,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, list[dict]]:
    """process_addresses analog (utils.py:1195-1279): run the transformer
    ladder, shrink the working set by left-anti join after each stage, tag
    each match with the stage that produced it (``method`` — the fallback
    level the fixtures pin), then restore the ORIGINAL input fields.

    Input: DataFrame with ADDR_COLS. addr_key must be unique
    (reference aborts on duplicates, nominatimwrapper.py:789-790).
    """
    spark = addresses.sparkSession
    seqs = transformers_sequence or DEFAULT_TRANSFORMERS_SEQUENCE

    # materialize the input ONCE: the duplicate guard, every stage, and the
    # final original-fields restore all reuse it — without this the input
    # plan (often an extraction-UDF pipeline over raw pages) is re-evaluated
    # three times. Skip when the caller already handed us materialized rows
    # (a checkpoint scan) — re-checkpointing would rewrite every input row
    # once more for nothing.
    if not _is_materialized(addresses):
        # bake the orig stage's composed address into the same checkpoint:
        # it is needed by the dedup pass AND the fan-back pass, so computing
        # it once at materialization time (instead of per consuming pass)
        # halves the job's regex-composition cost for one extra stored
        # string column (~50 B/row)
        addresses = addresses.withColumn(
            "_ta0",
            compose_address_col(
                F.col("street"), F.col("housenbr"), F.col("postcode"),
                F.col("city"), F.col("country"),
            ),
        ).localCheckpoint(eager=True)

    if validate_unique:  # skippable when keys are unique by construction
        dup = addresses.groupBy("addr_key").count().filter("count > 1")
        if not dup.isEmpty():
            raise ValueError("duplicate addr_key values in input")

    # Pack the full original row (original address fields + caller columns
    # like url/warc_ts) into one struct carried through every stage's
    # fan-back join. Expanding it at the end replaces the reference's final
    # merge(to_process_addresses, how="left") (utils.py:1271) — which as a
    # full-input-vs-results shuffle join would be the largest shuffle of the
    # whole job at 100 TB — with a zero-shuffle projection.
    orig_payload = [c for c in addresses.columns if c not in ("addr_key", "_ta0")]
    ta0 = ["_ta0"] if "_ta0" in addresses.columns else []
    todo = addresses.select(
        *ADDR_COLS, F.struct(*[F.col(c) for c in orig_payload]).alias("_orig"), *ta0
    )
    n_todo = addresses.count()  # cheap: checkpointed
    results: DataFrame | None = None
    rejects: DataFrame | None = None
    step_stats: list[dict] = []

    # Materializing each stage's fanned-back keep frame stores the FULL
    # result width (input row + _orig payload + result fields) — at 2M+
    # pages that block write is the single largest core-count-independent
    # cost in the job. It's only worth paying when the frame really is
    # read more than once at full width: stats mode (several counts per
    # stage) and rejected mode (results re-scanned for the distance join).
    # Otherwise the unique-level checkpoints inside _process already pin
    # the expensive scoring, and the fan-back is a rescan-cheap broadcast
    # join: n_keep and the anti-join read it column-pruned, the final sink
    # reads it full-width exactly once.
    materialize_stages = with_stats or with_rejected

    for transformers in seqs:
        stage_t0 = time.monotonic()
        keep, reject, n_keep, unmatched = _one_stage(todo, transformers, index, check_results)
        # Lineage stays bounded either way: every stage's todo is
        # checkpointed below, so each keep plan is rooted one stage deep.
        # This is the Spark analog of the reference's per-stage
        # materialized pandas frames; on a cluster the same boundary is
        # the S7 per-partition checkpoint.
        if materialize_stages:
            keep = keep.localCheckpoint(eager=True)
        results = keep if results is None else results.unionByName(keep)
        if with_rejected:
            reject = reject.localCheckpoint(eager=True)
            rejects = reject if rejects is None else rejects.unionByName(reject)

        if with_stats:
            # per-stage counters — reference step_stats (utils.py:678-686) —
            # plus wall time per stage, the reference's timestats label map
            # (base.py:275-301); every frame here is checkpointed (the stage
            # really ran inside the timed span) so these are cheap scans
            stat = {
                "method": "+".join(transformers),
                "wall_s": round(time.monotonic() - stage_t0, 3),
                "todo": todo.count(),
                "match": keep.count(),
                "match_26": keep.filter(F.col("match_on_cleansed_house_number")).count(),
            }
            if with_rejected:
                stat["reject_rec"] = reject.count()
                stat["reject_addr"] = reject.select("addr_key").distinct().count()
                stat["reject_mism"] = (
                    reject.filter(F.col("reject_reason") == "mismatch")
                    .select("addr_key").distinct().count()
                )
            step_stats.append(stat)

        # n_keep came from the unique-level multiplicity sum (one row per
        # matched key in keep), so the everyone-matched break costs nothing
        if n_keep >= n_todo:
            break
        if n_keep == 0:
            continue  # nothing matched this stage; same todo set
        # next working set: the unique-key anti-join byproduct of the stage
        # (matched-address set is the SMALL side — AQE broadcasts it), never
        # a full-input shuffle on addr_key
        todo = unmatched.localCheckpoint(eager=True)
        n_todo -= n_keep

    assert results is not None
    # restore the FULL original input row — including caller columns beyond
    # ADDR_COLS (url, warc_ts, ...) — from the carried _orig struct: the
    # reference's merge(to_process_addresses, how="left") at utils.py:1271
    # without the join (see the _orig note above)
    results = (
        results.drop("street", "housenbr", "postcode", "city", "country")
        .select("*", "_orig.*")
        .drop("_orig")
    )

    if with_extra_house_number:
        # reference: applied AFTER the original-fields restore
        # (utils.py:1273-1274), so it parses the ORIGINAL input fields
        results = add_extra_house_number(results)

    if with_rejected and rejects is not None:
        # distance from each reject to its key's accepted match (utils.py:1080-1093)
        m = results.select(
            "addr_key", F.col("lat").alias("_mlat"), F.col("lon").alias("_mlon")
        )
        rejects = rejects.join(m, on="addr_key", how="left").withColumn(
            "distance_to_match",
            F.round(haversine_col(F.col("lat"), F.col("lon"), F.col("_mlat"), F.col("_mlon")), 3),
        ).drop("_mlat", "_mlon")
    else:
        rejects = spark.createDataFrame([], schema=_reject_schema())

    if with_stats:
        return results, rejects, step_stats
    return results, rejects


def _reject_schema():
    fields = [StructField(c, StringType()) for c in RESULT_COLS + REJECT_EXTRA]
    fields.append(StructField("distance_to_match", DoubleType()))
    return StructType(fields)
