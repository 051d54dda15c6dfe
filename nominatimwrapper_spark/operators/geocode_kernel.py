# -*- coding: utf-8 -*-
"""Partition-local geocode kernel: the whole cascade in ONE narrow stage.

The distributed cascade (geocode.py) runs the reference lifecycle as a
driver-controlled ladder of Spark jobs — the right shape when the
gazetteer exceeds the broadcast budget (shuffle joins) or when per-stage
stats/rejects are wanted. But its per-invocation cost is fixed driver
work: ~8 actions, each a full plan build + schedule round — measured ~4s
per call regardless of input size. For latency-sensitive paths
(streaming micro-batches, small partitioned jobs) that fixed cost IS the
runtime.

This module exploits the cascade's per-address independence (documented
at geocode._process: every key of one composed address shares the same
candidates, scores and verdicts — nothing in the ladder looks across
addresses) to run the ENTIRE lifecycle partition-locally:

    pages --mapInPandas--> [extract -> transformer ladder -> candidate
    merge vs broadcast gazetteer -> score/eliminate -> parent rescue ->
    low-rank retry -> S2/H3 tiling] --> tiled points

One job, one narrow stage, zero shuffles, no driver round-trips. The
gazetteer rides along as a SparkContext broadcast of pandas frames —
valid under exactly the same condition as the broadcast-join cascade
(index.broadcast_ok). The engine is chosen in ONE place,
plans/flagship.geocode_and_tile: this kernel under the gate, the
distributed cascade above it. The checkpoint job and the stream's
foreachBatch path go through that function; only the direct streaming
plan (streaming/geocode_stream.geocode_pages_stream) calls the kernel
itself.

Semantics are the distributed cascade's, value-for-value (asserted by
tests/test_geocode_kernel.py over every fixture class): the only
divergence is the documented-arbitrary representative pick when two
different field splits compose to the same address ACROSS partitions
(geocode._unique_queries note) — partition-local dedup picks the
partition's min rather than the global min.

Reference parity chain is unchanged (this file re-executes, in pandas,
the same utils.py:1195-1279 ladder geocode.py implements; see that
module's header for the line-by-line map). All scalar kernels are
SHARED with the distributed path — textnorm compare/fingerprint
functions, the rule-based libpostal parser, the regex rulesets, the
comma-fixpoint cleaner — so a value fix lands in both engines at once.
"""

from __future__ import annotations

import re
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.cleansing import REGEX_REPLACEMENTS, clean_addr_in
from ..functions.geo import s2_h3_cells
from ..functions.similarity import SIMILARITY_THRESHOLD
from ..functions.textnorm import (
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
    RESULT_COLS,
    GazetteerIndex,
    parse_address_rule_based,
)

_FIELDS = ["street", "housenbr", "postcode", "city", "country"]

# python-regex form of the shared transformer rulesets ($n -> \g<n>)
_PY_RULES: dict[str, list[tuple[str, re.Pattern, str]]] = {
    rs: [
        (field, re.compile(pat), re.sub(r"\$(\d+)", r"\\g<\1>", repl))
        for field, pat, repl in rules
    ]
    for rs, rules in REGEX_REPLACEMENTS.items()
}

_DIGIT_PREFIX = re.compile(r"^([0-9]+)")
_ALL_DIGITS = re.compile(r"^[0-9]*$")


def _nz(v) -> str:
    return "" if v is None or (isinstance(v, float) and v != v) else str(v)


def _compose(s, h, pc, city, country) -> str:
    """Scalar twin of cleansing.compose_address_col (exact fixpoint)."""
    return clean_addr_in(f"{_nz(s)}, {_nz(h)}, {_nz(pc)} {_nz(city)}, {_nz(country)}")


def _sparkmin(series: pd.Series):
    """F.min semantics: min of non-null values, None when all null."""
    s = series.dropna()
    return None if s.empty else s.min()


def _street_best(a1, a2, a3, b) -> tuple[float, str]:
    """Guarded 3-field street compare — twin of similarity._street_sim_best3."""
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

    def __init__(self, lookup: pd.DataFrame, places: pd.DataFrame):
        self.houses = lookup[lookup.place_rank == 30].reset_index(drop=True)
        self.streets = lookup[lookup.place_rank == 26].reset_index(drop=True)
        self.cities = lookup[lookup.place_rank < 26].reset_index(drop=True)
        # photon candidate pool: one row per street place (geocode.photon_transformer)
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
        # parent rescue pool: street-category places with their alt-name values
        pp = places[places.category == "highway"]
        self.parents = pd.DataFrame(
            {
                "p_pid": pp["place_id"].to_numpy(),
                "p_alts": [
                    list(m.values()) if isinstance(m, dict) else []
                    for m in pp["alt_map"].tolist()
                ],
            }
        )


def build_kernel_payload(index: GazetteerIndex) -> KernelPayload:
    if not index.broadcast_ok:
        raise ValueError(
            "gazetteer exceeds the broadcast budget; use the distributed cascade"
        )
    return KernelPayload(
        index.lookup.select(_LOOKUP_COLS).toPandas(),
        index.places.select("place_id", "category", "alt_map").toPandas(),
    )


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
# transformers (pandas twins of geocode.apply_transformers)
# ---------------------------------------------------------------------------


def _apply_regex(cur: pd.DataFrame, ruleset: str) -> pd.DataFrame:
    for field, pat, repl in _PY_RULES[ruleset]:
        vals = cur[field].map(_nz)
        cur[field] = vals.map(lambda v, p=pat, r=repl: p.sub(r, v))
    return cur


def _apply_libpostal(cur: pd.DataFrame, check_results: bool) -> pd.DataFrame:
    """Parse composed address; substitute parsed fields; under check mode
    drop rows failing the elimination rule vs their own input (the
    reference's post-libpostal sanity check)."""
    memo: dict[tuple, tuple | None] = {}
    rows = []
    keep_mask = []
    for t in cur[_FIELDS].itertuples(index=False, name=None):
        if t not in memo:
            full = _compose(*t)
            p = parse_address_rule_based(full)
            lp = tuple(_nz(p[k]) for k in ("road", "house_number", "postcode", "city", "country"))
            if check_results:
                s_sim = street_compare_one(_nz(t[0]), lp[0])
                h_sim = house_number_compare_one(_nz(t[1]), lp[1])
                pc_sim = postcode_compare_one(_nz(t[2]), lp[2])
                c_sim = city_compare_one(_nz(t[3]), lp[3])
                memo[t] = None if _elim(pc_sim, c_sim, s_sim) else lp
            else:
                memo[t] = lp
        v = memo[t]
        keep_mask.append(v is not None)
        rows.append(v if v is not None else ("",) * 5)
    out = cur.loc[keep_mask].reset_index(drop=True)
    kept_rows = [r for r, k in zip(rows, keep_mask) if k]
    for i, f in enumerate(_FIELDS):
        out[f] = [r[i] for r in kept_rows]
    return out


def _photon_one(t: tuple, pay: KernelPayload, check_results: bool):
    """Best fuzzy street correction for one (street..country) tuple, or
    None when no candidate survives — twin of geocode.photon_transformer."""
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
    cand = pd.concat(parts, ignore_index=True).drop_duplicates("place_id")
    if not len(cand):
        return None
    cand = cand.sort_values(
        ["importance", "place_id"], ascending=[False, True], kind="mergesort"
    ).reset_index(drop=True)
    cand["photon_order"] = np.arange(1, len(cand) + 1)
    b_street = _nz(street)
    sims_s = [street_compare_one(_nz(v), b_street) for v in cand["ph_street"]]
    sims_pc = [postcode_compare_one(_nz(v), q_pc) for v in cand["ph_postcode"]]
    sims_c = [city_compare_one(_nz(v), _nz(city)) for v in cand["ph_city"]]
    cand = cand.assign(sim_street=sims_s, sim_pc=sims_pc, sim_city=sims_c)
    if check_results:
        keep = [not _elim(p, c, s) for p, c, s in zip(cand.sim_pc, cand.sim_city, cand.sim_street)]
        cand = cand.loc[keep]
        if not len(cand):
            return None
    best = cand.sort_values(
        ["sim_street", "photon_order"], ascending=[False, True], kind="mergesort"
    ).iloc[0]
    return (best.ph_street, housenbr, best.ph_postcode, best.ph_city, best.ph_country)


def _apply_photon(cur: pd.DataFrame, pay: KernelPayload, check_results: bool) -> pd.DataFrame:
    memo: dict[tuple, tuple | None] = {}
    rows, keep_mask = [], []
    for t in cur[_FIELDS].itertuples(index=False, name=None):
        if t not in memo:
            memo[t] = _photon_one(t, pay, check_results)
        v = memo[t]
        keep_mask.append(v is not None)
        rows.append(v if v is not None else ("",) * 5)
    out = cur.loc[keep_mask].reset_index(drop=True)
    kept_rows = [r for r, k in zip(rows, keep_mask) if k]
    for i, f in enumerate(_FIELDS):
        out[f] = [r[i] for r in kept_rows]
    return out


def _transform_stage(
    todo: pd.DataFrame, transformers: list[str], pay: KernelPayload, check_results: bool
) -> pd.DataFrame:
    """apply_transformers twin: sequential transformer application + the
    changed-rows filter (rows unchanged by the sequence drop out of the
    stage; orig passes everything)."""
    if transformers == ["orig"]:
        return todo.copy()
    cur = todo.copy()
    for t in transformers:
        if t == "orig":
            continue
        m = re.match(r"regex\[([a-z]+)\]", t)
        if m:
            cur = _apply_regex(cur, m.group(1))
        elif t == "nonum":
            cur["housenbr"] = ""
        elif t == "nostreet":
            cur["housenbr"] = ""
            cur["street"] = ""
        elif t == "nozip":
            cur["postcode"] = ""
        elif t == "nocountry":
            cur["country"] = ""
        elif t == "libpostal":
            cur = _apply_libpostal(cur, check_results)
        elif t == "photon":
            cur = _apply_photon(cur, pay, check_results)
        else:
            raise ValueError(f"unknown transformer {t!r}")
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
# candidate generation + check (pandas twins of _candidates_unique/_process)
# ---------------------------------------------------------------------------


def _unique_queries_pdf(sent: pd.DataFrame) -> pd.DataFrame:
    uq = (
        sent.groupby("transformed_address", as_index=False)
        .agg({f: _sparkmin for f in _FIELDS})
    )
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
    """_score twin: candidate (a-side) vs representative query (b-side)."""
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
    """Elimination split + best-per-query; returns (keep, mismatch)."""
    el = np.array(
        [_elim(p, c, s) for p, c, s in zip(scored.sim_post_code, scored.sim_city, scored.sim_street)],
        dtype=bool,
    )
    mismatch = scored.loc[el].reset_index(drop=True)
    ranked = (
        scored.loc[~el]
        .sort_values(
            ["transformed_address", "sim_street", "sim_house_number", "osm_order"],
            ascending=[True, False, False, True], kind="mergesort",
        )
        .drop_duplicates("transformed_address")
        .reset_index(drop=True)
    )
    return ranked, mismatch


def _parent_rescue_pdf(
    keep: pd.DataFrame, mismatch: pd.DataFrame, pay: KernelPayload
) -> pd.DataFrame:
    """match_parent twin: alt-name re-check through highway parents."""
    if not len(mismatch):
        return keep
    fr = mismatch[~mismatch.transformed_address.isin(set(keep.transformed_address))]
    if not len(fr):
        return keep
    alt = fr.merge(pay.parents, left_on="parent_place_id", right_on="p_pid", how="inner")
    if not len(alt):
        return keep
    alt = alt.explode("p_alts").rename(columns={"p_alts": "alt_name"})
    alt = alt[alt.alt_name.notna() & (alt.alt_name != alt.out_street_name)]
    if not len(alt):
        return keep
    alt = alt.assign(
        sim_street=[
            street_compare_one(_nz(a), _nz(b)) for a, b in zip(alt.alt_name, alt.street)
        ],
        sim_street_which="alt_names",
    ).drop(columns=["p_pid", "alt_name"])
    saved, _ = _pick_best_pdf(alt)
    if not len(saved):
        return keep
    return pd.concat([keep, saved], ignore_index=True)


def _process_pdf(
    uq: pd.DataFrame, pay: KernelPayload, check_results: bool,
    use_parent: bool = True, with_retry: bool = False,
) -> pd.DataFrame:
    """_process twin at the unique-query level; returns keep_u rows
    (one per matched transformed_address)."""
    cand = _candidates_pdf(uq, pay)
    if not len(cand):
        return cand
    if check_results:
        keep, mismatch = _pick_best_pdf(_score_pdf(cand))
        if use_parent:
            keep = _parent_rescue_pdf(keep, mismatch, pay)
    else:
        keep = (
            cand.sort_values(["transformed_address", "osm_order"], kind="mergesort")
            .drop_duplicates("transformed_address")
            .reset_index(drop=True)
        )
        for c in ("sim_street", "sim_house_number", "sim_post_code", "sim_city"):
            keep[c] = np.nan
        keep["sim_street_which"] = None
    if with_retry and len(keep):
        keep = _retry_low_rank_pdf(keep, uq, pay, check_results)
    return keep


def _retry_low_rank_pdf(
    keep: pd.DataFrame, uq: pd.DataFrame, pay: KernelPayload, check_results: bool
) -> pd.DataFrame:
    """retry_with_low_place_rank twin: non-numeric house numbers of
    below-house matches retried with the cleansed (digit-prefix) house."""
    low = set(keep.loc[keep.place_rank < 30, "transformed_address"])
    if not low:
        return keep
    r = uq[uq.transformed_address.isin(low)]
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
    uq2 = _unique_queries_pdf(r)
    got = _process_pdf(uq2, pay, check_results, use_parent=False, with_retry=False)
    if not len(got):
        return keep
    got = got[got.place_rank == 30]
    if not len(got):
        return keep
    ta2_map = r.set_index("_orig_ta")["transformed_address"].to_dict()
    by_ta2 = got.set_index("transformed_address")
    rows = []
    for _, krow in keep.iterrows():
        ta = krow["transformed_address"]
        ta2 = ta2_map.get(ta)
        if ta2 is not None and ta2 in by_ta2.index:
            new = by_ta2.loc[ta2].copy()
            new["transformed_address"] = ta  # fan-back key stays the original
            new["_retry_ta"] = ta2  # reported composed address (cleansed)
            new["match_on_cleansed_house_number"] = True
            rows.append(new)
        else:
            rows.append(krow)
    return pd.DataFrame(rows).reset_index(drop=True)


# ---------------------------------------------------------------------------
# cascade driver (pandas twin of geocode.cascade, keep side only)
# ---------------------------------------------------------------------------

_PAYLOAD_OUT = [
    "place_id", "parent_place_id", "place_rank", "lat", "lon",
    "out_street_name", "out_post_name", "out_house_number", "out_post_code",
    "out_country_name", "out_other", "namedetails", "osm_order",
    "sim_street", "sim_street_which", "sim_house_number", "sim_post_code", "sim_city",
]


def cascade_kernel(
    addr: pd.DataFrame,
    pay: KernelPayload,
    check_results: bool = True,
    transformers_sequence: list[list[str]] | None = None,
) -> pd.DataFrame:
    """Full transformer-ladder cascade over one pandas partition.

    ``addr``: ADDR_COLS plus any carry columns (url, warc_ts, ...).
    Returns RESULT_COLS + the original five address fields + carry columns
    — the distributed cascade's keep frame, value-for-value.
    """
    seqs = transformers_sequence or DEFAULT_TRANSFORMERS_SEQUENCE
    carry = [c for c in addr.columns if c not in ADDR_COLS]
    addr = addr.reset_index(drop=True)
    todo = addr[ADDR_COLS].copy()
    pieces = []

    for transformers in seqs:
        if not len(todo):
            break
        method = "+".join(transformers)
        cur = _transform_stage(todo, transformers, pay, check_results)
        if not len(cur):
            continue
        memo_ta: dict[tuple, str] = {}
        tas = []
        for t in cur[_FIELDS].itertuples(index=False, name=None):
            v = memo_ta.get(t)
            if v is None:
                v = _compose(*t)
                memo_ta[t] = v
            tas.append(v)
        cur = cur.assign(transformed_address=tas)
        uq = _unique_queries_pdf(cur)
        keep_u = _process_pdf(uq, pay, check_results, use_parent=True, with_retry=True)
        if not len(keep_u):
            continue
        if "_retry_ta" not in keep_u.columns:
            keep_u["_retry_ta"] = None
        if "match_on_cleansed_house_number" not in keep_u.columns:
            keep_u["match_on_cleansed_house_number"] = False
        keep_u["match_on_cleansed_house_number"] = (
            keep_u["match_on_cleansed_house_number"] == True  # noqa: E712 — NaN-safe
        )
        fan = cur[["addr_key", "transformed_address"]].merge(
            keep_u[["transformed_address", "_retry_ta", "match_on_cleansed_house_number"]
                   + _PAYLOAD_OUT],
            on="transformed_address", how="inner",
        )
        if not len(fan):
            continue
        # retried rows report their CLEANSED composed address (utils.py:272-276)
        fan["transformed_address"] = fan["_retry_ta"].where(
            fan["_retry_ta"].notna(), fan["transformed_address"]
        )
        fan = fan.drop(columns=["_retry_ta"])
        pieces.append((method, fan))
        matched = set(fan["addr_key"])
        todo = todo[~todo.addr_key.isin(matched)]

    if not pieces:
        return _empty_result(carry)

    outs = []
    for method, fan in pieces:
        fan = fan.copy()
        fan["method"] = method
        outs.append(fan)
    res = pd.concat(outs, ignore_index=True)
    # original input fields + carry columns restored from the input row
    res = res.merge(addr, on="addr_key", how="left")
    cols = RESULT_COLS + _FIELDS + carry
    return res[cols]


def _empty_result(carry: list[str]) -> pd.DataFrame:
    return pd.DataFrame(columns=RESULT_COLS + _FIELDS + carry)


# ---------------------------------------------------------------------------
# pages -> tiled points, one narrow stage end to end
# ---------------------------------------------------------------------------

TILE_SCHEMA = (
    "addr_key string, url string, method string, place_id long, "
    "place_rank long, cell13 long, h3_9 long, lat_1e6 long, lon_1e6 long"
)


def _extract_addrs_pdf(pages: pd.DataFrame) -> pd.DataFrame:
    """pages(url, html) -> one row per embedded address (pages.py twin:
    fused frozen text extraction + address regex, addr_key = url#pos)."""
    from ..functions.text import extract_text
    from .pages import extract_addresses_from_text

    keys, urls, fields = [], [], {f: [] for f in _FIELDS}
    for url, html in zip(pages["url"], pages["html"]):
        for pos, a in enumerate(extract_addresses_from_text(extract_text(html))):
            keys.append(f"{url}#{pos}")
            urls.append(url)
            fields["street"].append(a["street"])
            fields["housenbr"].append(a["housenbr"])
            fields["postcode"].append(a["postcode"])
            fields["city"].append(a["city"])
            fields["country"].append("")
    return pd.DataFrame({"addr_key": keys, "url": urls, **fields})


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


def geocode_and_tile_kernel(
    pages: DataFrame, index: GazetteerIndex, check_results: bool = True,
    widen: bool = True,
) -> DataFrame:
    """pages -> extract -> cascade -> S2/H3 tiles, entirely inside ONE
    mapInPandas stage (plans/flagship.geocode_and_tile's output schema,
    value-for-value). Recrawl dedup is the caller's job (streaming state
    op upstream, or spatial.latest_snapshot for batch inputs).

    Scale shape: zero shuffles, zero driver actions; parallelism = input
    partitions (small inputs are widened to the cluster's core count —
    the repartition moves at most one micro-batch of pages).

    ``widen=False`` skips the widening (it needs an RDD partition-count
    peek, illegal on a STREAMING DataFrame) — streaming callers already
    arrive shuffled to the session's shuffle width by the upstream dedup
    state op, which is the right micro-batch granularity."""
    bc = kernel_broadcast(index)
    if widen:
        par = pages.sparkSession.sparkContext.defaultParallelism
        if pages.rdd.getNumPartitions() < par:
            pages = pages.repartition(par)

    def fn(it):
        pay = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            addr = _extract_addrs_pdf(pdf)
            if not len(addr):
                continue
            res = cascade_kernel(addr, pay, check_results=check_results)
            if len(res):
                yield _tile_pdf(res)

    return pages.mapInPandas(fn, schema=TILE_SCHEMA)
