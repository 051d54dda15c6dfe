# -*- coding: utf-8 -*-
"""The geocode ladder in pandas: one implementation for both engines.

``cascade_kernel`` runs the reference lifecycle (process_addresses,
utils.py:1195-1279) over one pandas frame of addresses: every stage of
the transformer ladder (regex, libpostal, photon, nonum, nostreet), the
six-level candidate lookup, the check (scoring, elimination, best per
query with its tail, parent alt-name rescue) and the low-rank
house-number retry, all in the reference's checked mode (its
first-result-wins mode, SURVEY §3.2 step 5, is not reproduced). Nothing
in the ladder looks across addresses, so it can run over any set of
addresses with any payload that holds every gazetteer row they can
reach. It has two callers:

- the partition-local route, ``geocode_and_tile_kernel``, under the
  gazetteer broadcast gate: the whole gazetteer rides along as a
  SparkContext broadcast of pandas frames (``KernelPayload``), and

      pages --mapInPandas--> [extract -> ladder -> S2/H3 tiling]

  is one narrow stage with no shuffle and no driver round trip;
- ``geocode.cascade``, in both gazetteer regimes: one cogrouped pandas
  stage that runs ``cascade_kernel`` on each locality group of unique
  address tuples, with a ``KernelPayload`` built from the gazetteer rows
  that group can reach.

The engine is chosen in ONE place, plans/flagship.geocode_and_tile: the
route under the gate, ``cascade`` above it, both tiled by ``_tile_pdf``.
The checkpoint job and the stream's foreachBatch path go through it; the
direct streaming plan, plans/flagship.q_geocode_kernel and bench.py's
kernel leg call the route itself. Both engines give the same rows
(tests/test_geocode_kernel.py, over every fixture class); the only
divergence is the documented-arbitrary representative pick when two
different field splits compose to the same address in different
partitions or groups (``_unique_queries_pdf`` takes the min within its
frame). The scalar
kernels below the ladder are shared too: textnorm compare and
fingerprint functions, the rule-based libpostal parser, the regex
rulesets, the comma-fixpoint cleaner and the page address extractor
(pages.extract_addresses_pdf).
"""

from __future__ import annotations

import re
import threading
import time
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.cleansing import REGEX_REPLACEMENTS, clean_addr_in
from ..functions.geo import EARTH_RADIUS_KM, s2_h3_cells
from ..functions.textnorm import (
    SIMILARITY_THRESHOLD,
    city_compare_one,
    city_key,
    house_number_compare_one,
    postcode_compare_one,
    street_compare_one,
    street_fingerprint_key,
)
from .geocode import (
    ADDR_COLS,
    DEFAULT_TRANSFORMERS_SEQUENCE,
    NOMINATIM_CANDIDATE_LIMIT,
    REJECT_COLS,
    RESULT_COLS,
    GazetteerIndex,
    parse_address_rule_based,
)
from .pages import extract_addresses_pdf

_FIELDS = ["street", "housenbr", "postcode", "city", "country"]

_RULES: dict[str, list[tuple[str, re.Pattern, str]]] = {
    rs: [(field, re.compile(pat), repl) for field, pat, repl in rules]
    for rs, rules in REGEX_REPLACEMENTS.items()
}

_DIGIT_PREFIX = re.compile(r"^([0-9]+)")
_ALL_DIGITS = re.compile(r"^[0-9]*$")


def _nz(v) -> str:
    return "" if v is None or (isinstance(v, float) and v != v) else str(v)


def _compose(s, h, pc, city, country) -> str:
    """Scalar twin of cleansing.compose_address_col (exact fixpoint)."""
    return clean_addr_in(f"{_nz(s)}, {_nz(h)}, {_nz(pc)} {_nz(city)}, {_nz(country)}")


def _compose_each(cur: pd.DataFrame) -> list[str]:
    """_compose of every row's five fields, each distinct tuple once."""
    memo: dict[tuple, str] = {}
    out = []
    for t in cur[_FIELDS].itertuples(index=False, name=None):
        v = memo.get(t)
        if v is None:
            v = memo[t] = _compose(*t)
        out.append(v)
    return out


def _sparkmin(series: pd.Series):
    """F.min semantics: min of non-null values, None when all null."""
    s = series.dropna()
    return None if s.empty else s.min()


def _street_best(a1, a2, a3, b) -> tuple[float, str]:
    """Guarded 3-field street compare (check_result_utils.py:508-519): a
    field is compared only while the running score is below the threshold,
    and ``which`` names the last field compared."""
    sim, which = -1.0, ""
    for name, x in (("street_name", a1), ("other", a2), ("namedetails", a3)):
        if sim < SIMILARITY_THRESHOLD:
            sim = street_compare_one(_nz(x), b)
            which = name
    return sim, which


def _elim(sim_pc: float, sim_city: float, sim_street: float) -> bool:
    """Reject predicate (check_result_utils.py:532)."""
    return (sim_pc < 0.1 and sim_city < SIMILARITY_THRESHOLD) or (
        sim_street < SIMILARITY_THRESHOLD
    )


# ---------------------------------------------------------------------------
# broadcast payload
# ---------------------------------------------------------------------------

_LOOKUP_COLS = [
    "key_street", "key_city", "post_code", "house_number", "place_id",
    "parent_place_id", "place_rank", "category", "importance", "lat", "lon",
    "out_street_name", "out_post_name", "out_house_number", "out_post_code",
    "out_country_name", "out_other", "namedetails",
]


class KernelPayload:
    """Pandas image of a GazetteerIndex, pre-split by lookup level."""

    def __init__(self, lookup: pd.DataFrame, parents: pd.DataFrame):
        self.houses = lookup[lookup.place_rank == 30].reset_index(drop=True)
        self.streets = lookup[lookup.place_rank == 26].reset_index(drop=True)
        self.cities = lookup[lookup.place_rank < 26].reset_index(drop=True)
        # photon candidate pool: one row per street place
        self.photon = (
            self.streets.drop_duplicates("place_id")
            .rename(
                columns={
                    "out_street_name": "ph_street",
                    "out_post_name": "ph_city",
                    "out_post_code": "ph_postcode",
                    "out_country_name": "ph_country",
                }
            )[
                ["key_city", "post_code", "importance", "place_id",
                 "ph_street", "ph_city", "ph_postcode", "ph_country"]
            ]
            .reset_index(drop=True)
        )
        # parent rescue pool (GazetteerIndex.parents): p_pid, p_alts
        self.parents = pd.DataFrame({
            "p_pid": parents.p_pid.to_numpy(),
            "p_alts": [[] if a is None else list(a) for a in parents.p_alts],
        })


def build_kernel_payload(index: GazetteerIndex) -> KernelPayload:
    if not index.broadcast_ok:
        raise ValueError(
            "gazetteer exceeds the broadcast budget; use geocode.cascade"
        )
    return KernelPayload(index.lookup.select(_LOOKUP_COLS).toPandas(), index.parents.toPandas())


_BC_LOCK = threading.Lock()


def kernel_broadcast(index: GazetteerIndex):
    """The index's payload broadcast, built once per index object and kept
    on it, so it lives and dies with the index. The lock stops concurrent
    checkpoint-job partitions from building it twice."""
    with _BC_LOCK:
        if index.kernel_bc is None:
            index.kernel_bc = index.lookup.sparkSession.sparkContext.broadcast(
                build_kernel_payload(index)
            )
    return index.kernel_bc


# ---------------------------------------------------------------------------
# transformers (apply_transformers, utils.py:692-776)
# ---------------------------------------------------------------------------


def _apply_regex(cur: pd.DataFrame, ruleset: str) -> pd.DataFrame:
    for field, pat, repl in _RULES[ruleset]:
        vals = cur[field].map(_nz)
        cur[field] = vals.map(lambda v, p=pat, r=repl: p.sub(r, v))
    return cur


def _substitute(cur: pd.DataFrame, one) -> pd.DataFrame:
    """Each row's five fields replaced by ``one`` of them, called once
    per distinct tuple; the rows for which ``one`` gives None drop out."""
    memo: dict[tuple, tuple | None] = {}
    new = []
    for t in cur[_FIELDS].itertuples(index=False, name=None):
        if t not in memo:
            memo[t] = one(t)
        new.append(memo[t])
    out = cur.loc[[v is not None for v in new]].reset_index(drop=True)
    kept = [v for v in new if v is not None]
    for i, f in enumerate(_FIELDS):
        out[f] = [v[i] for v in kept]
    return out


def _libpostal_one(t: tuple):
    """libpostal_transformer (transformers.py:261-320) for one tuple: the
    parse of its composed address, or None when the parse fails the
    elimination rule against the tuple itself (the reference's
    post-libpostal sanity check)."""
    p = parse_address_rule_based(_compose(*t))
    lp = tuple(_nz(p[k]) for k in ("road", "house_number", "postcode", "city", "country"))
    if _elim(
        postcode_compare_one(_nz(t[2]), lp[2]),
        city_compare_one(_nz(t[3]), lp[3]),
        street_compare_one(_nz(t[0]), lp[0]),
    ):
        return None
    return lp


def _photon_one(t: tuple, pay: KernelPayload):
    """photon_transformer (transformers.py:182-247) for one tuple: the
    payload's street places of the same postcode or city in Photon's
    order (importance desc, place_id); of those passing the elimination
    rule the best street score wins, the first in that order on ties
    (photon_keep_relevant_results, :40-77; the fake house number scores
    0 for all, :63). Returns the tuple with the winner's fields, keeping
    its house number (ref :235), or None."""
    street, housenbr, postcode, city, country = t
    q_pc = _nz(postcode)
    q_ck = city_key(city)
    parts = []
    if q_pc != "":
        parts.append(pay.photon[pay.photon.post_code == q_pc])
    if q_ck != "":
        parts.append(pay.photon[pay.photon.key_city == q_ck])
    if not parts:
        return None
    cand = pd.concat(parts).drop_duplicates("place_id").sort_values(
        ["importance", "place_id"], ascending=[False, True], kind="mergesort"
    )
    best, best_sim = None, -1.0
    for ph_street, ph_pc, ph_city, ph_country in zip(
        cand.ph_street, cand.ph_postcode, cand.ph_city, cand.ph_country
    ):
        sim = street_compare_one(_nz(ph_street), _nz(street))
        if sim > best_sim and not _elim(
            postcode_compare_one(_nz(ph_pc), _nz(postcode)),
            city_compare_one(_nz(ph_city), _nz(city)),
            sim,
        ):
            best, best_sim = (ph_street, housenbr, ph_pc, ph_city, ph_country), sim
    return best


def _transform_stage(todo: pd.DataFrame, transformers: list[str], pay: KernelPayload) -> pd.DataFrame:
    """apply_transformers (utils.py:692-776) for one entry of
    DEFAULT_TRANSFORMERS_SEQUENCE: sequential transformer application +
    the changed-rows filter (rows unchanged by the sequence drop out of
    the stage; orig passes everything)."""
    if transformers == ["orig"]:
        return todo.copy()
    cur = todo.copy()
    for t in transformers:
        if t == "nonum":
            cur["housenbr"] = ""
        elif t == "nostreet":
            cur["housenbr"] = ""
            cur["street"] = ""
        elif t == "libpostal":
            cur = _substitute(cur, _libpostal_one)
        elif t == "photon":
            cur = _substitute(cur, lambda v: _photon_one(v, pay))
        else:  # regex[<ruleset>]
            cur = _apply_regex(cur, t[len("regex["):-1])
        if not len(cur):
            return cur
    orig = todo.set_index("addr_key")
    changed = np.zeros(len(cur), dtype=bool)
    okeys = cur["addr_key"].to_numpy()
    for f in _FIELDS:
        a = cur[f].map(lambda v: _nz(v).lower()).to_numpy()
        b = orig.loc[okeys, f].map(lambda v: _nz(v).lower()).to_numpy()
        changed |= a != b
    return cur.loc[changed].reset_index(drop=True)


# ---------------------------------------------------------------------------
# candidate lookup, the check and the low-rank retry
# ---------------------------------------------------------------------------


def _unique_queries_pdf(sent: pd.DataFrame) -> pd.DataFrame:
    """One row per transformed_address (sorted), each field the
    ``_sparkmin`` over the rows that compose to it. Almost every address
    is reached by one field tuple, whose fields are its minima as they
    stand; only addresses reached by several tuples are aggregated."""
    d = sent[["transformed_address"] + _FIELDS].drop_duplicates()
    multi = d.transformed_address.duplicated(keep=False).to_numpy()
    one = d[~multi]
    one = one.astype(object).where(one.notna(), None)
    if multi.any():
        many = (
            d[multi].groupby("transformed_address", as_index=False)
            .agg({f: _sparkmin for f in _FIELDS})
        )
        one = pd.concat([one, many])
    uq = one.sort_values("transformed_address").reset_index(drop=True)
    uq["q_street_key"] = uq["street"].map(street_fingerprint_key)
    uq["q_city_key"] = uq["city"].map(city_key)
    uq["q_pc"] = uq["postcode"].map(_nz)
    uq["q_house"] = uq["housenbr"].map(_nz)
    return uq


def _candidates_pdf(uq: pd.DataFrame, pay: KernelPayload) -> pd.DataFrame:
    """Six-level lookup merge; house-hit suppression; per-(query, place)
    best level; osm_order; Nominatim's 50-candidate cap."""
    has = uq[uq.q_street_key != ""]
    nos = uq[uq.q_street_key == ""]

    def lvl(q, right, lkeys, rkeys, n):
        if not len(q) or not len(right):
            return None
        m = q.merge(right, left_on=lkeys, right_on=rkeys, how="inner")
        m["match_level"] = n
        return m

    h = has[has.q_house != ""]
    hc = has[(has.q_house != "") & (has.q_city_key != "")]
    cands = [
        lvl(h, pay.houses, ["q_street_key", "q_pc", "q_house"],
            ["key_street", "post_code", "house_number"], 0),
        lvl(hc, pay.houses, ["q_street_key", "q_city_key", "q_house"],
            ["key_street", "key_city", "house_number"], 1),
        lvl(has, pay.streets, ["q_street_key", "q_pc"], ["key_street", "post_code"], 2),
        lvl(has[has.q_city_key != ""], pay.streets,
            ["q_street_key", "q_city_key"], ["key_street", "key_city"], 3),
        lvl(nos[nos.q_pc != ""], pay.cities, ["q_pc"], ["post_code"], 4),
        lvl(nos[nos.q_city_key != ""], pay.cities, ["q_city_key"], ["key_city"], 5),
    ]
    house_cand = [c for c in cands[:2] if c is not None]
    street_cand = [c for c in cands[2:4] if c is not None]
    city_cand = [c for c in cands[4:] if c is not None]
    if house_cand and street_cand:
        hit = set(pd.concat(house_cand)["transformed_address"])
        street_cand = [c[~c.transformed_address.isin(hit)] for c in street_cand]
    parts = house_cand + street_cand + city_cand
    if not parts:
        return pd.DataFrame()
    cand = pd.concat(parts, ignore_index=True)
    cand = (
        cand.sort_values("match_level", kind="mergesort")
        .drop_duplicates(["transformed_address", "place_id"])
        .sort_values(
            ["transformed_address", "match_level", "importance", "place_id"],
            ascending=[True, True, False, True], kind="mergesort",
        )
        .reset_index(drop=True)
    )
    cand["osm_order"] = cand.groupby("transformed_address").cumcount()
    return cand[cand.osm_order < NOMINATIM_CANDIDATE_LIMIT].reset_index(drop=True)


def _score_pdf(cand: pd.DataFrame) -> pd.DataFrame:
    """Check scores (check_result_utils.py:463-531): candidate output
    fields (a-side) vs the representative query fields (b-side)."""
    sims_s, whichs, sims_h, sims_pc, sims_c = [], [], [], [], []
    memo: dict[tuple, tuple] = {}
    for a1, a2, a3, b, oh, qh, opc, qpc, ocn, qc in zip(
        cand.out_street_name, cand.out_other, cand.namedetails, cand.street,
        cand.out_house_number, cand.housenbr, cand.out_post_code, cand.postcode,
        cand.out_post_name, cand.city,
    ):
        k = (a1, a2, a3, b, oh, qh, opc, qpc, ocn, qc)
        v = memo.get(k)
        if v is None:
            s, w = _street_best(a1, a2, a3, _nz(b))
            v = (
                s, w,
                house_number_compare_one(_nz(oh), _nz(qh)),
                postcode_compare_one(_nz(opc), _nz(qpc)),
                city_compare_one(_nz(ocn), _nz(qc)),
            )
            memo[k] = v
        sims_s.append(v[0]); whichs.append(v[1]); sims_h.append(v[2])
        sims_pc.append(v[3]); sims_c.append(v[4])
    return cand.assign(
        sim_street=sims_s, sim_street_which=whichs, sim_house_number=sims_h,
        sim_post_code=sims_pc, sim_city=sims_c,
    )


def _pick_best_pdf(scored: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Elimination split + best-per-query (check_result_utils.py:532-554);
    returns (keep, reject). ``reject`` holds the eliminated rows
    (reject_reason "mismatch") and the surviving rows ranked below their
    query's best ("tail")."""
    el = np.array(
        [_elim(p, c, s) for p, c, s in zip(scored.sim_post_code, scored.sim_city, scored.sim_street)],
        dtype=bool,
    )
    ranked = scored.loc[~el].sort_values(
        ["transformed_address", "sim_street", "sim_house_number", "osm_order"],
        ascending=[True, False, False, True], kind="mergesort",
    )
    best = ~ranked.transformed_address.duplicated().to_numpy()
    reject = pd.concat(
        [scored.loc[el].assign(reject_reason="mismatch"),
         ranked.loc[~best].assign(reject_reason="tail")],
        ignore_index=True,
    )
    return ranked.loc[best].reset_index(drop=True), reject


def _parent_rescue_pdf(
    keep: pd.DataFrame, reject: pd.DataFrame, parents: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """match_parent (check_result_utils.py:560-644): the mismatch rows of
    queries with no keep row are re-checked with each alt name of their
    street parent (``parents``: p_pid, p_alts) as the only street field.
    Returns keep plus the rescued rows, and reject minus the rescued
    (query, place) pairs."""
    fr = reject[
        (reject.reject_reason == "mismatch")
        & ~reject.transformed_address.isin(set(keep.transformed_address))
    ]
    if not len(fr):
        return keep, reject
    alt = fr.drop(columns="reject_reason").merge(
        parents, left_on="parent_place_id", right_on="p_pid", how="inner"
    )
    alt = alt.explode("p_alts").rename(columns={"p_alts": "alt_name"})
    alt = alt[alt.alt_name.notna() & (alt.alt_name != alt.out_street_name)]
    if not len(alt):
        return keep, reject
    alt = alt.assign(
        sim_street=[
            street_compare_one(_nz(a), _nz(b)) for a, b in zip(alt.alt_name, alt.street)
        ],
        sim_street_which="alt_names",
    ).drop(columns=["p_pid", "alt_name"])
    saved, _ = _pick_best_pdf(alt)
    if not len(saved):
        return keep, reject
    pair = ["transformed_address", "place_id"]
    rescued = pd.MultiIndex.from_frame(reject[pair]).isin(pd.MultiIndex.from_frame(saved[pair]))
    return (
        pd.concat([keep, saved], ignore_index=True),
        reject.loc[~rescued].reset_index(drop=True),
    )


def _check_pdf(
    cand: pd.DataFrame, parents: pd.DataFrame | None = None
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The check of one lookup at the unique-query level: score,
    eliminate, best per query with its tail, then the parent alt-name
    rescue when ``parents`` is given. Every row carries the five sim
    columns; the reject rows also carry ``reject_reason``."""
    keep, reject = _pick_best_pdf(_score_pdf(cand))
    if parents is not None:
        keep, reject = _parent_rescue_pdf(keep, reject, parents)
    return keep, reject


def _process_pdf(uq: pd.DataFrame, pay: KernelPayload) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Lookup, check with parent rescue, and the low-rank retry of the
    unique queries — process_osm (utils.py:300-441) with
    retry_with_low_place_rank (:225-299). Returns (keep, reject): keep
    is one row per matched transformed_address, reject the rejected
    candidates of the first lookup (the retry's own rejects are not
    reported)."""
    cand = _candidates_pdf(uq, pay)
    if not len(cand):
        return cand, cand
    keep, reject = _check_pdf(cand, pay.parents)
    return _retry_low_rank_pdf(keep, uq, pay), reject


def _retry_low_rank_pdf(keep: pd.DataFrame, uq: pd.DataFrame, pay: KernelPayload) -> pd.DataFrame:
    """The non-numeric house numbers of below-house matches retried with
    their cleansed (digit-prefix) house number, without parent rescue. A
    house found replaces the query's keep row: keyed by the original
    composed address, with the cleansed one in ``_retry_ta`` (the address
    it reports) and match_on_cleansed_house_number set."""
    keep = keep.assign(_retry_ta=None, match_on_cleansed_house_number=False)
    r = uq[uq.transformed_address.isin(keep.loc[keep.place_rank < 30, "transformed_address"])]
    hn = r["housenbr"]
    r = r[hn.notna() & ~hn.map(lambda v: bool(_ALL_DIGITS.match(str(v))))]
    if not len(r):
        return keep
    r = r.assign(
        _orig_ta=r["transformed_address"],
        housenbr=r["housenbr"].map(
            lambda v: m.group(1) if (m := _DIGIT_PREFIX.match(str(v))) else ""
        ),
    )
    r["transformed_address"] = [
        _compose(*t) for t in r[_FIELDS].itertuples(index=False, name=None)
    ]
    cand = _candidates_pdf(_unique_queries_pdf(r), pay)
    if not len(cand):
        return keep
    got, _ = _check_pdf(cand)
    got = (
        r[["_orig_ta", "transformed_address"]]
        .merge(got[got.place_rank == 30], on="transformed_address")
        .rename(columns={"transformed_address": "_retry_ta", "_orig_ta": "transformed_address"})
        .assign(match_on_cleansed_house_number=True)
    )
    kept = keep[~keep.transformed_address.isin(got.transformed_address)]
    return pd.concat([kept, got], ignore_index=True)


def _localities_pdf(t: pd.DataFrame) -> pd.DataFrame:
    """The (postcode, city key) localities an address tuple queries with
    before photon: its own fields' (``pc``, ``ck``) and those of its
    libpostal parse (``lp_pc``, ``lp_ck``). The parse is taken without
    _libpostal_one's sanity check, so it is a superset of what the ladder
    keeps. Regex, nonum and nostreet never change a locality."""
    lp = [parse_address_rule_based(v) for v in _compose_each(t)]
    return pd.DataFrame({
        "pc": t["postcode"].map(_nz).to_numpy(),
        "ck": t["city"].map(city_key).to_numpy(),
        "lp_pc": [_nz(p["postcode"]) for p in lp],
        "lp_ck": [city_key(_nz(p["city"])) for p in lp],
    })


def _round3(v: float) -> float:
    """F.round(v, 3): HALF_UP on the shortest decimal form of ``v``."""
    if v != v:
        return v
    return float(Decimal(repr(v)).quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))


def _haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    """geo.haversine_col over numpy arrays, term for term."""
    lat1, lon1, lat2, lon2 = (np.asarray(v, dtype=np.float64) for v in (lat1, lon1, lat2, lon2))
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin(np.radians(lat2 - lat1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


# ---------------------------------------------------------------------------
# the transformer ladder (the partition-local route below and each locality
# group of geocode.cascade)
# ---------------------------------------------------------------------------

_PAYLOAD_OUT = [
    "place_id", "parent_place_id", "place_rank", "lat", "lon",
    "out_street_name", "out_post_name", "out_house_number", "out_post_code",
    "out_country_name", "out_other", "namedetails", "osm_order",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code", "sim_city",
]
_NO_ROWS = pd.DataFrame(columns=["addr_key", "match_on_cleansed_house_number", "reject_reason"])


def cascade_kernel(
    addr: pd.DataFrame,
    pay: KernelPayload,
    with_rejected: bool = False,
):
    """process_addresses (utils.py:1195-1279) over one pandas frame: each
    stage of DEFAULT_TRANSFORMERS_SEQUENCE transforms the addresses not
    matched yet (transform_and_process, utils.py:589-688; _transform_stage
    with the libpostal and photon checks), looks up, checks and retries
    their unique composed addresses (_process_pdf) and tags each match
    with the stage's ``method``.

    ``addr``: ADDR_COLS plus any carry columns (url, warc_ts, ...).
    Returns the keep frame: RESULT_COLS + the original five address
    fields + carry columns. With ``with_rejected`` returns (keep, reject,
    step_stats): ``reject`` holds REJECT_COLS, the rejected candidates of
    every stage's first lookup with their distance to the address's
    match; ``step_stats`` holds the reference's step_stats (utils.py:
    678-686) for every stage whose todo is above 0: todo, match,
    match_26, reject_rec, reject_addr and reject_mism, counted in input
    rows (in ``_n_keys`` when ``addr`` carries that column), and
    ``wall_s``, the seconds the stage took here.
    """
    carry = [c for c in addr.columns if c not in ADDR_COLS]
    addr = addr.reset_index(drop=True)
    todo = addr[ADDR_COLS].copy()
    weight = addr.set_index("addr_key")["_n_keys"] if "_n_keys" in addr else None
    keeps, rejects, stats = [], [], []

    def w(keys) -> int:
        return len(keys) if weight is None else int(weight.loc[keys].sum())

    for transformers in DEFAULT_TRANSFORMERS_SEQUENCE:
        if not len(todo):
            break
        t0 = time.perf_counter()
        method = "+".join(transformers)
        n_todo = w(todo.addr_key)
        cur = _transform_stage(todo, transformers, pay)
        fan = rej = _NO_ROWS
        if len(cur):
            cur = cur.assign(transformed_address=_compose_each(cur))
            keep_u, reject_u = _process_pdf(_unique_queries_pdf(cur), pay)
            sent = cur[["addr_key", "transformed_address"]]
            if len(keep_u):
                fan = sent.merge(
                    keep_u[["transformed_address", "_retry_ta", "match_on_cleansed_house_number"]
                           + _PAYLOAD_OUT],
                    on="transformed_address",
                )
                # retried rows report their CLEANSED composed address (utils.py:272-276)
                fan["transformed_address"] = fan["_retry_ta"].where(
                    fan["_retry_ta"].notna(), fan["transformed_address"]
                )
                fan = fan.drop(columns="_retry_ta").assign(method=method)
                keeps.append(fan)
                todo = todo[~todo.addr_key.isin(fan.addr_key)]
            if with_rejected and len(reject_u):
                rej = sent.merge(
                    reject_u[["transformed_address", "reject_reason"] + _PAYLOAD_OUT],
                    on="transformed_address",
                ).assign(method=method, match_on_cleansed_house_number=False)
                rejects.append(rej)
        if with_rejected:
            stats.append({
                "method": method,
                "wall_s": time.perf_counter() - t0,
                "todo": n_todo,
                "match": w(fan.addr_key),
                "match_26": w(fan.addr_key[fan.match_on_cleansed_house_number.astype(bool)]),
                "reject_rec": w(rej.addr_key),
                "reject_addr": w(rej.addr_key.unique()),
                "reject_mism": w(rej.addr_key[rej.reject_reason == "mismatch"].unique()),
            })

    keep = pd.concat(keeps, ignore_index=True) if keeps else pd.DataFrame(columns=RESULT_COLS)
    # original input fields + carry columns restored from the input row
    keep = keep.merge(addr, on="addr_key", how="left")[RESULT_COLS + _FIELDS + carry]
    if not with_rejected:
        return keep
    reject = pd.concat(rejects, ignore_index=True) if rejects else pd.DataFrame(
        columns=REJECT_COLS[:-1]
    )
    # distance from each reject to its address's match (utils.py:1080-1093)
    m = reject[["addr_key"]].merge(keep[["addr_key", "lat", "lon"]], on="addr_key", how="left")
    reject["distance_to_match"] = [
        _round3(d) for d in _haversine_km(reject.lat, reject.lon, m.lat, m.lon)
    ]
    return keep, reject[REJECT_COLS], stats


# ---------------------------------------------------------------------------
# pages -> tiled points, one narrow stage end to end
# ---------------------------------------------------------------------------

TILE_SCHEMA = (
    "addr_key string, url string, method string, place_id long, "
    "place_rank long, cell13 long, h3_9 long, lat_1e6 long, lon_1e6 long"
)


def _round_half_up_1e6(v: np.ndarray) -> pd.Series:
    """F.round semantics (HALF_UP, away from zero) — np.round is half-even;
    NaN rounds to null, as F.round does."""
    r = pd.Series(np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5))
    return r.astype("Int64") if r.isna().any() else r.astype(np.int64)


def _tile_pdf(res: pd.DataFrame) -> pd.DataFrame:
    if not len(res):
        return pd.DataFrame(
            {c: pd.Series(dtype=t) for c, t in [
                ("addr_key", object), ("url", object), ("method", object),
                ("place_id", np.int64), ("place_rank", np.int64),
                ("cell13", np.int64), ("h3_9", np.int64),
                ("lat_1e6", np.int64), ("lon_1e6", np.int64),
            ]}
        )
    lat = res["lat"].to_numpy(dtype=np.float64, na_value=np.nan)
    lon = res["lon"].to_numpy(dtype=np.float64, na_value=np.nan)
    cells = s2_h3_cells(lat, lon, 13, 9)
    return pd.DataFrame(
        {
            "addr_key": res["addr_key"].to_numpy(),
            "url": res["url"].to_numpy(),
            "method": res["method"].to_numpy(),
            "place_id": res["place_id"].to_numpy(dtype=np.int64),
            "place_rank": res["place_rank"].to_numpy(dtype=np.int64),
            "cell13": cells["s2"].array,
            "h3_9": cells["h3"].array,
            "lat_1e6": _round_half_up_1e6(lat).array,
            "lon_1e6": _round_half_up_1e6(lon).array,
        }
    )


def geocode_and_tile_kernel(pages: DataFrame, index: GazetteerIndex) -> DataFrame:
    """pages -> extract -> cascade -> S2/H3 tiles, entirely inside ONE
    mapInPandas stage (plans/flagship.geocode_and_tile's output schema,
    value-for-value). Recrawl dedup is the caller's job (streaming state
    op upstream, or spatial.latest_snapshot for batch inputs).

    Scale shape: zero shuffles, zero driver actions, no Spark job while
    the plan is built; parallelism = input partitions. A caller that
    needs more width repartitions its pages first, as
    plans/flagship.geocode_and_tile does."""
    bc = kernel_broadcast(index)

    def fn(it):
        pay = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            addr = extract_addresses_pdf(pdf)
            if not len(addr):
                continue
            res = cascade_kernel(addr, pay)
            if len(res):
                yield _tile_pdf(res)

    return pages.mapInPandas(fn, schema=TILE_SCHEMA)


def tile_results(res: DataFrame) -> DataFrame:
    """Geocoded rows -> TILE_SCHEMA in one mapInPandas, by the kernel's
    own tiler (the cascade route's tiling)."""
    res = res.select("addr_key", "url", "method", "place_id", "place_rank", "lat", "lon")
    return res.mapInPandas(lambda it: map(_tile_pdf, it), schema=TILE_SCHEMA)
