# -*- coding: utf-8 -*-
"""Geocode cascade — the in-cluster replacement for NominatimWrapper's
per-address REST pipeline.

Reference lifecycle being reproduced (values, not architecture):

    process_addresses            utils.py:1195-1279   -> cascade()
                                                     -> geocode_kernel.cascade_kernel()
    transform_and_process        utils.py:589-688     -> geocode_kernel.cascade_kernel()
    apply_transformers           utils.py:692-776     -> geocode_kernel._transform_stage()
    libpostal_transformer        transformers.py:261-320 -> geocode_kernel._libpostal_one()
    photon_transformer           transformers.py:182-247 -> geocode_kernel._photon_one()
    process_osm (REST + parse)   utils.py:300-441     -> geocode_kernel._process_pdf()
    osm_keep_relevant_results    check_result_utils.py:648-699 -> geocode_kernel._check_pdf()
    match_parent                 check_result_utils.py:560-644 -> geocode_kernel._parent_rescue_pdf()
    retry_with_low_place_rank    utils.py:225-299     -> geocode_kernel._retry_low_rank_pdf()

The ladder itself (transformers, lookup, check, retry) has one pandas
implementation, geocode_kernel.cascade_kernel. This module builds the
gazetteer index and owns the Spark data movement around the ladder.

Scale design: ``cascade`` deduplicates the input to its unique address
tuples (the reference's only optimization, utils.py:353-356, taken
before the whole ladder) and runs the ladder as ONE cogrouped pandas
stage: the tuples are hashed into groups by locality (postcode, city
key), and each group meets every gazetteer row its tuples can reach at
any stage. The ladder is independent per address, so a group needs
nothing outside it. The page corpus shuffles once, on url, in
plans/flagship.geocode_and_tile; the address rows only for the dedup,
the duplicate-key guard and, above the fan-back gate, the fan-back
join; a skewed hot address is one tuple.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation
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
    collapse_map_col,
    collapse_set_col,
    compose_address_col,  # noqa: F401  (re-exported: perfbench and scripts compose with it)
)
from ..functions.textnorm import city_key, street_fingerprint_key

# reference config.py:102-112
# ladder parallelism: one locality group of the ladder stage per this many
# unique address tuples (see _locality_groups) — fine-grained enough to
# spread real corpora over every core, coarse enough that micro-batch-sized
# inputs run as one call.
_UQ_ROWS_PER_TASK = 1024

# fan-back join strategy gate (guide §3.1): the ladder's rows hold at most
# one keep row per unique address tuple, so when the MEASURED tuple count
# (observed while the tuples are checkpointed) is below this, broadcasting
# them removes the full-input exchange+sort the planner otherwise
# schedules (they are a checkpoint scan with no size stats, so
# auto-broadcast never fires at plan time and AQE's conversion lands only
# after the big side's shuffle is already written — measured 79 MB
# written + re-read per 2M-page stage). ~200k wide rows ≈ 150 MB
# broadcast; above that the shuffle join is right. The same gate
# broadcasts the queried localities the ladder stage joins the gazetteer
# to. Both sides of it are tested in
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


@pandas_udf(ArrayType(StringType()))
def _street_keys_udf(parts: pd.Series) -> pd.Series:
    """Each place's distinct street keys, one per name part; each
    distinct part of the batch is keyed once."""
    keys = {p: street_fingerprint_key(p) for p in parts.explode().dropna().unique()}
    return parts.map(lambda ps: None if ps is None else list(dict.fromkeys(keys[p] for p in ps)))


@pandas_udf(StringType())
def city_key_udf(s: pd.Series) -> pd.Series:
    return _map_unique(s, city_key)


# ---------------------------------------------------------------------------
# gazetteer index
# ---------------------------------------------------------------------------


@dataclass
class GazetteerIndex:
    """Lookup-ready gazetteer. ``lookup`` has one row per (name-variant-part,
    place); ``parents`` is the parent rescue pool, one row per street
    (highway) place with its alt-name values: (p_pid, p_alts)."""

    lookup: DataFrame
    parents: DataFrame
    broadcast_ok: bool = True
    lookup_bytes: int = 0  # the estimated size the broadcast gate measured
    # the kernel's broadcast payload (geocode_kernel.kernel_broadcast),
    # built on first use; dataclasses.replace starts the copy without it
    kernel_bc: object = field(default=None, init=False, repr=False, compare=False)


def build_gazetteer_index(
    gaz: DataFrame, broadcast_max_bytes: int = 800 * 1024 * 1024
) -> GazetteerIndex:
    """Build the join index from a gazetteer DataFrame
    (schema per FIXTURES.md §2; alt_names as map or array<struct<key,value>>).

    Every bilingual part of every name variant (street_name parts +
    alt_names values — the index the real Nominatim builds from its name
    table) becomes a lookup row keyed by letters-only fingerprint, so any
    language/spelling variant of a query street keys into the same places.

    Broadcast is gated on ESTIMATED BYTES (``lookup_bytes``: every row's
    JSON width + 16, summed by the job that caches the lookup), not row
    count — 20M wide rows is several GB and OOMs executors if broadcast.
    Under ``broadcast_max_bytes`` the one-stage kernel runs with the index
    as a broadcast payload, and cascade's parent alt-name join broadcasts
    its gazetteer side; above it that join shuffles.
    cascade's ladder stage (_locality_groups) shuffles the lookup rows
    its tuples can reach to their locality groups in both regimes.
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

    parents = base.filter(F.col("category") == "highway").select(
        F.col("place_id").alias("p_pid"), F.map_values("alt_map").alias("p_alts")
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

    parts = F.array_distinct(
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
    # both key UDFs in one Python node (a plain explode would make Spark
    # infer size(_keys) > 0 below it and run the UDF in a second node);
    # place_id is unique, so a place's distinct keys need no dedup shuffle
    lookup = (
        with_parent.withColumns(
            {"_keys": _street_keys_udf(parts), "key_city": city_key_udf(F.col("city"))}
        )
        .withColumn("key_street", F.explode_outer("_keys"))
        .dropna(subset="key_street")  # null parts (a null alt name): no rows
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
    )

    # AQE never narrows a cached plan, so without the coalesce every scan
    # of the lookup runs a task per gazetteer split (or shuffle partition)
    lookup = lookup.coalesce(gaz.sparkSession.sparkContext.defaultParallelism).cache()
    # every row's _avg_row_bytes width, summed by the job that fills the cache
    est = lookup.selectExpr("coalesce(sum(length(to_json(struct(*))) + 16), 0)").first()[0]
    return GazetteerIndex(lookup, parents.cache(), est <= broadcast_max_bytes, est)


def _avg_row_bytes(df: DataFrame, sample_rows: int = 2000) -> int:
    """Average serialized row width from a small sample — JSON length is a
    (conservative, field-names-repeated) over-estimate of the broadcast
    relation's per-row cost."""
    # TABLESAMPLE over the whole table, not limit() — limit reads only the
    # first partition(s), which biases the estimate when row width correlates
    # with write order (e.g. gazetteer sorted by place_rank)
    width = F.avg(F.length(F.to_json(F.struct(*df.columns))))
    w = df.sample(fraction=0.01, seed=7).limit(sample_rows).agg(width).first()[0]
    if w is None:  # tiny table: the 1% sample can be empty
        w = df.limit(sample_rows).agg(width).first()[0]
    return int(w or 0) + 16  # + per-row object overhead


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


# ---------------------------------------------------------------------------
# the cascade: one cogrouped pandas stage over locality groups
# ---------------------------------------------------------------------------

RESULT_COLS = [
    "addr_key", "method", "place_id", "parent_place_id", "place_rank", "lat", "lon",
    "out_street_name", "out_post_name", "out_house_number", "out_post_code",
    "out_country_name", "out_other", "namedetails", "osm_order",
    "transformed_address", "match_on_cleansed_house_number",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code", "sim_city",
]
REJECT_COLS = RESULT_COLS + ["reject_reason", "distance_to_match"]
# the ladder's own columns that are not strings (the gazetteer payload
# keeps the lookup's types)
_STAGE_TYPES = {
    "osm_order": IntegerType(), "match_on_cleansed_house_number": BooleanType(),
    **{c: DoubleType() for c in (
        "sim_street", "sim_house_number", "sim_post_code", "sim_city", "distance_to_match"
    )},
}


@pandas_udf(StructType([StructField(c, StringType()) for c in ("pc", "ck", "lp_pc", "lp_ck")]))
def _localities_udf(
    street: pd.Series, housenbr: pd.Series, postcode: pd.Series, city: pd.Series,
    country: pd.Series,
) -> pd.DataFrame:
    from .geocode_kernel import _localities_pdf

    return _localities_pdf(pd.DataFrame(
        dict(street=street, housenbr=housenbr, postcode=postcode, city=city, country=country)
    ))


def _tuple_key():
    """The unique-tuple key ``_tk``: a deterministic function of the five
    address fields that tells null from "" (to_json leaves null fields
    out)."""
    return F.to_json(F.struct(*ADDR_COLS[1:]))


def _unique_tuples(addresses: DataFrame) -> DataFrame:
    """One row per distinct (street, housenbr, postcode, city, country) of
    the input, keyed by its ``_tk`` (_tuple_key), with the number of
    input keys that carry it (``_n_keys``) and its localities before
    photon (``_loc``, geocode_kernel._localities_pdf). Identical tuples
    have identical ladders, so a hot address is one row."""
    fields = ADDR_COLS[1:]
    return (
        addresses.groupBy("_tk", *fields)
        .agg(F.count(F.lit(1)).alias("_n_keys"))
        .withColumn("_loc", _localities_udf(*fields))
    )


def _fan_small(index: GazetteerIndex, n_uq: int) -> bool:
    """The fan-back gate: broadcast the unique-level side of a join."""
    return index.broadcast_ok and n_uq <= _FAN_BROADCAST_MAX_UNIQUES


def _locality_keys(pc, ck) -> list:
    """A locality's two join keys: ("p", postcode) and ("c", city key)."""
    return [
        F.struct(F.lit("p").alias("kind"), pc.alias("key")),
        F.struct(F.lit("c").alias("kind"), ck.alias("key")),
    ]


def _group_col(n_uq: int):
    """A tuple's locality group ``_b``: the hash of its own (postcode, city
    key) over ceil(n_uq / _UQ_ROWS_PER_TASK) groups, or of its libpostal
    parse's when both of its own are empty (one-line addresses, every
    field in the street, would otherwise all share one group)."""
    n_groups = max(1, -(-n_uq // _UQ_ROWS_PER_TASK))
    pc, ck = F.col("_loc.pc"), F.col("_loc.ck")
    own = F.when((pc == "") & (ck == ""), F.xxhash64("_loc.lp_pc", "_loc.lp_ck"))
    return F.pmod(own.otherwise(F.xxhash64(pc, ck)), F.lit(n_groups))


def _locality_groups(
    tuples: DataFrame, index: GazetteerIndex, n_uq: int
) -> tuple[DataFrame, DataFrame]:
    """The two sides of the ladder stage, every row tagged with its group
    ``_b`` (_group_col): the unique tuples, and the gazetteer rows their
    group can reach, each with its street parent's alt names
    (``p_alts``).

    The localities a tuple's ladder can query with are its own, its
    libpostal parse's, and the (output postcode, output city key) of
    every street photon can pick from those: the rank-26 rows whose
    post_code or key_city matches, since photon's output fields become
    the query's. Regex, nonum and nostreet never change a locality, and
    a retried house number keeps its query's. Every lookup level and
    photon match a row on its post_code or its (non-empty) key_city, so
    a group gets every row whose post_code or key_city is one of its
    localities' and no other. A row reaching a group through both keys
    arrives twice (a join to drop the copy costs more jobs than the
    group's drop_duplicates). The locality side is broadcast under the
    fan-back gate; the parent alt names join on parent_place_id under
    the index's gate."""
    q = tuples.withColumn("_b", _group_col(n_uq))
    hint = F.broadcast if _fan_small(index, n_uq) else (lambda df: df)
    # a fresh _b attribute: the cogroup must not see q's on both sides
    loc = q.select(F.col("_b").alias("_b"), F.inline(F.array(
        *_locality_keys(F.col("_loc.pc"), F.col("_loc.ck")),
        *_locality_keys(F.col("_loc.lp_pc"), F.col("_loc.lp_ck")),
    ))).distinct()
    streets = index.lookup.filter(F.col("place_rank") == 26).select(
        F.inline(F.array(*_locality_keys(F.col("post_code"), F.col("key_city")))),
        "out_post_code", "out_post_name",
    )
    # distinct before the city-key UDF: the join runs in the lookup scan's
    # tasks (as many as the cached lookup has partitions), and a Python
    # task costs about 0.3 s of worker start-up however few rows it gets
    photon = hint(loc.filter(F.col("key") != "")).join(streets, ["kind", "key"]).select(
        "_b", "out_post_code", "out_post_name"
    ).distinct().select(
        "_b", F.inline(F.array(*_locality_keys(
            F.coalesce("out_post_code", F.lit("")), city_key_udf(F.col("out_post_name"))
        ))),
    )
    # an empty postcode is a locality too (the house and street levels
    # match it against the rows whose post_code is ""); an empty city key
    # reaches nothing
    reach = loc.unionByName(photon).filter(
        (F.col("kind") == "p") | (F.col("key") != "")
    ).distinct()
    lk = index.lookup.select(
        "*", F.inline(F.array(*_locality_keys(F.col("post_code"), F.col("key_city"))))
    ).join(hint(reach), ["kind", "key"]).drop("kind", "key")
    parents = F.broadcast(index.parents) if index.broadcast_ok else index.parents
    return q, lk.join(parents, lk.parent_place_id == parents.p_pid, "left").drop("p_pid")


def _group_pdf(
    q: pd.DataFrame, g: pd.DataFrame, with_rejected: bool, with_stats: bool
) -> pd.DataFrame:
    """One locality group: geocode_kernel.cascade_kernel over the group's
    tuples ``q`` (keyed by ``_tk`` in place of addr_key) with a
    KernelPayload of its gazetteer rows ``g``, the parent rescue pool
    from the parent alt names they carry. Returns the keep rows, then the
    reject rows, then under ``with_stats`` one row per stage with
    addr_key null and the stage's step stats as JSON in ``_stat``."""
    from .geocode_kernel import _LOOKUP_COLS, KernelPayload, cascade_kernel

    g = g.drop_duplicates(["key_street", "place_id"])
    par = g.loc[g.p_alts.notna(), ["parent_place_id", "p_alts"]].drop_duplicates("parent_place_id")
    pay = KernelPayload(g[_LOOKUP_COLS], par.rename(columns={"parent_place_id": "p_pid"}))
    addr = q.rename(columns={"_tk": "addr_key"})[ADDR_COLS + ["_n_keys"]]
    if not (with_rejected or with_stats):
        return cascade_kernel(addr, pay)
    keep, reject, stats = cascade_kernel(addr, pay, with_rejected=True)
    parts = [keep, reject] if with_rejected else [keep]
    if with_stats:
        parts.append(pd.DataFrame({
            "method": [s.pop("method") for s in stats],
            "_stat": [json.dumps(s) for s in stats],
        }))
    return pd.concat([p for p in parts if len(p)] or [keep], ignore_index=True)


def _ladder_stage(
    tuples: DataFrame, index: GazetteerIndex, n_uq: int,
    with_rejected: bool = False, with_stats: bool = False,
) -> DataFrame:
    """The whole ladder of the unique tuples as ONE cogrouped pandas stage,
    ``q.groupBy("_b").cogroup(lk.groupBy("_b"))`` over _locality_groups:
    a row per kept tuple and per rejected candidate (addr_key holds the
    tuple key), plus the ``_stat`` rows of each group under
    ``with_stats``."""
    q, lk = _locality_groups(tuples, index, n_uq)
    schema = StructType(
        [StructField(c, index.lookup.schema[c].dataType if c in index.lookup.columns
                     else _STAGE_TYPES.get(c, StringType())) for c in REJECT_COLS]
        + [StructField("_stat", StringType())]
    )
    names = schema.fieldNames()

    def stage(q: pd.DataFrame, g: pd.DataFrame) -> pd.DataFrame:
        if not len(q):
            return pd.DataFrame(columns=names)
        return _group_pdf(q, g, with_rejected, with_stats).reindex(columns=names)

    return q.groupBy("_b").cogroup(lk.groupBy("_b")).applyInPandas(stage, schema)


def cascade(
    addresses: DataFrame,
    index: GazetteerIndex,
    with_rejected: bool = True,
    with_stats: bool = False,
    validate_unique: bool = True,
    with_extra_house_number: bool = True,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, list[dict]]:
    """process_addresses analog (utils.py:1195-1279): run the transformer
    ladder over every address, tag each match with the stage that
    produced it (``method`` — the fallback level the fixtures pin) and
    return it with the ORIGINAL input row.

    Input: DataFrame with ADDR_COLS. addr_key must be unique
    (reference aborts on duplicates, nominatimwrapper.py:789-790).

    The input is checkpointed once and deduplicated to its unique address
    tuples (the reference's pre-lookup dedup, utils.py:353-356, taken
    before the ladder). The ladder runs once per locality group of tuples
    (_ladder_stage), and its rows join back to the input once, on the
    tuple key, with the tuple side broadcast under the fan-back gate. The
    input row rides that join, so no restore join on addr_key is needed
    (the reference's merge(to_process_addresses), utils.py:1271).

    Returns (results, rejects); ``rejects`` holds every stage's rejected
    candidates with their distance to the key's match; without
    ``with_rejected`` it is empty, with the same column types.
    ``with_stats`` adds the reference's step_stats (utils.py:678-686), one
    dict per stage whose todo is above 0: todo, match and match_26, and
    with rejects reject_rec, reject_addr and reject_mism, all counted in
    input rows; ``wall_s`` is the seconds the groups spent in that stage,
    summed over groups (the reference's timestats, base.py:275-301). They
    come from the stage's own rows, at one job.
    """
    addresses = addresses.withColumn("_tk", _tuple_key()).localCheckpoint(eager=True)

    if validate_unique:  # skippable when keys are unique by construction
        dup = addresses.groupBy("addr_key").count().filter("count > 1")
        if not dup.isEmpty():
            raise ValueError("duplicate addr_key values in input")

    obs = Observation()
    tuples = _unique_tuples(addresses).observe(obs, F.count(F.lit(1)).alias("n"))
    tuples = tuples.localCheckpoint(eager=True)
    n_uq = obs.get["n"]
    out = _ladder_stage(tuples, index, n_uq, with_rejected, with_stats).localCheckpoint(eager=True)

    # the ladder's rows are a checkpoint scan with no size statistics, so
    # auto-broadcast never fires at plan time: broadcast them under the
    # measured gate so the (large) input side is never exchanged
    fan = F.broadcast if _fan_small(index, n_uq) else (lambda df: df)
    rows = out.filter(F.col("addr_key").isNotNull()).withColumnRenamed("addr_key", "_tk")
    keep_u = rows.filter(F.col("reject_reason").isNull()).select("_tk", *RESULT_COLS[1:])
    payload = [c for c in addresses.columns if c not in ("addr_key", "_tk")]
    results = addresses.join(fan(keep_u), "_tk").select("addr_key", *RESULT_COLS[1:], *payload)
    if with_extra_house_number:
        # reference: applied AFTER the original-fields restore
        # (utils.py:1273-1274), so it parses the ORIGINAL input fields
        results = add_extra_house_number(results)

    # empty without with_rejected: the stage then emits no reject rows
    reject_u = rows.filter(F.col("reject_reason").isNotNull()).select("_tk", *REJECT_COLS[1:])
    rejects = addresses.select("_tk", "addr_key").join(fan(reject_u), "_tk").select(REJECT_COLS)
    if not with_stats:
        return results, rejects

    sums: dict[str, dict[str, float]] = {}
    for r in out.filter(F.col("addr_key").isNull()).select("method", "_stat").collect():
        acc = sums.setdefault(r["method"], {})
        for k, v in json.loads(r["_stat"]).items():
            acc[k] = acc.get(k, 0.0) + v
    step_stats = []
    for transformers in DEFAULT_TRANSFORMERS_SEQUENCE:
        s = sums.get("+".join(transformers))
        if s is None:
            continue
        stat = {"method": "+".join(transformers), "wall_s": round(s.pop("wall_s"), 3)}
        stat.update({k: int(v) for k, v in s.items() if with_rejected or not k.startswith("reject")})
        step_stats.append(stat)
    return results, rejects, step_stats
