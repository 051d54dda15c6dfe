# -*- coding: utf-8 -*-
"""Address cleansing: comma cleanup and composition as Column expressions
(JVM-side, codegen-friendly), the regex rulesets the ladder applies, and
the output-field collapse of the gazetteer's address map.

Reference parity:

- ``clean_addr_col`` / ``clean_addr_in``   utils.py:107-131 (comma fixpoint)
- ``compose_address_col``                  utils.py:639-646 / 270-276
- ``REGEX_REPLACEMENTS``                   config.py:71-96, applied by the
  ladder's regex transformer (geocode_kernel._apply_regex,
  transformers.py:328-364)
- ``collapse_*``                           utils.py:133-168, 559-579
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ruleset -> ordered (field, pattern, replacement) rules, the reference's
# pandas rules (config.py:71-96) as written there, \g<n> backrefs included.
# Case-sensitive, replace-all — same as pandas str.replace(regex=True).
REGEX_REPLACEMENTS: dict[str, list[tuple[str, str, str]]] = {
    "init": [
        ("street", r"^(.+)\(((AV[E .]|CH[A .]|RUE|BOU|B[LVD]+|PL[A .]|SQ|ALL|GAL)[^\)]*)\)$", r"\g<2> \g<1>"),
        ("street", r"[, ]*(SN|ZN)$", ""),
        ("street", r"' ", "'"),
        ("street", r"\(.+\)$", ""),
    ],
    "lpost": [
        ("housenbr", r"^([0-9]*)(.*)$", r"\g<1>"),
        ("street", r"^r[\. ]", "rue "),
        ("street", r"^av[\. ]", "avenue "),
        ("street", r"^ch([ée]e)?[\. ]", "chaussée "),
        ("street", r"^b[lvd]{0,3}[\. ]", "boulevard "),
        ("street", r"(avenue|rue|chauss[ée]e|boulevard) d ", r"\g<1> d'"),
        ("street", r"(avenue|rue|chauss[ée]e|boulevard) de l ", r"\g<1> de l'"),
        ("street", r" de l ", " de l'"),
    ],
}


def clean_addr_col(col: Column) -> Column:
    """Comma-fixpoint cleanup (reference utils.py:107-131) as THREE
    regexp_replace calls instead of the previous 4x(collapse+trim+strip)
    chain (12 regexes + 5 trims — the single hottest JVM expression of the
    flagship at 2M+ rows, ~120 core-µs/row measured).

    Closed form of the reference fixpoint loop:
    - ",([ ]*,)+" -> ","  collapses any maximal run of commas separated by
      spaces in ONE pass (the loop halves runs per pass; greedy + ensures
      maximality, and the replacement cannot create a new adjacent pair
      because a following "[ ]*," would have extended the match);
    - after full collapse at most ONE leading and ONE trailing comma can
      remain, so "^[ ]*,[ ]*" / "[ ]*,[ ]*$" remove them (with the spaces
      the loop's interleaved strip() would have eaten) in one pass each;
    - final trim() = the loop's terminal strip().
    Value-identity vs the scalar reference loop is fuzz-tested in
    tests/test_collapse_hex_stats.py::test_clean_addr_col_fixpoint.
    """
    out = F.regexp_replace(col, ",([ ]*,)+", ",")
    out = F.regexp_replace(out, "^[ ]*,[ ]*", "")
    out = F.regexp_replace(out, "[ ]*,[ ]*$", "")
    return F.trim(out)


def clean_addr_in(addr_in: str) -> str:
    """Scalar twin of :func:`clean_addr_col` — exact reference loop
    (utils.py:107-131); used by tests and the synthetic-data generator."""
    old = None
    while addr_in != old:
        old = addr_in
        addr_in = re.sub(",[ ]*,", ",", addr_in).strip()
        addr_in = re.sub(",$", "", addr_in)
        addr_in = re.sub("^,", "", addr_in)
    return addr_in


def compose_address_col(
    street: Column, housenbr: Column, postcode: Column, city: Column, country: Column
) -> Column:
    """"street, housenbr, postcode city, country" with null-fill, then comma
    cleanup — exactly the reference composition (utils.py:639-646)."""
    nz = lambda c: F.coalesce(c, F.lit(""))  # noqa: E731
    raw = F.concat(
        nz(street), F.lit(", "),
        nz(housenbr), F.lit(", "),
        nz(postcode), F.lit(" "),
        nz(city), F.lit(", "),
        nz(country),
    )
    return clean_addr_col(raw)


# Nominatim's dynamic address.* keys -> output fields, in fillna priority
# order (reference collapse_params, config.py:115-122). Keys of a result's
# address map NOT consumed by any entry collapse into output.other.
COLLAPSE_PARAMS: dict[str, list[str]] = {
    "street_name": ["road", "pedestrian", "footway", "cycleway", "path",
                    "address27", "construction", "hamlet", "park", "square"],
    "post_name": ["town", "village", "city_district", "county", "city"],
    "house_number": ["house_number"],
    "country_name": ["country"],
    "post_code": ["postcode"],
}


def collapse_fillna_col(*cols: Column) -> Column:
    """A6 — first non-null of an ordered column list (reference
    collapse(method='fillna'), utils.py:133-166)."""
    return F.coalesce(*cols)


def collapse_map_col(address_map: Column, out_field: str) -> Column:
    """Collapse a nominatim-style address map into one output field via the
    COLLAPSE_PARAMS priority list (reference add_addr_out_columns,
    utils.py:559-579)."""
    return collapse_fillna_col(
        *[F.element_at(address_map, F.lit(k)) for k in COLLAPSE_PARAMS[out_field]]
    )


def collapse_set_col(cols: list[Column] | Column, minus: list[Column] | None = None) -> Column:
    """A7 — distinct non-null values joined by " - ", minus already-picked
    values (the 'other' column; reference utils.py:167-168, 568-574).
    ``cols`` may be a ready array Column (e.g. map_values of the address
    map) or a list of scalar Columns.

    NB the reference builds a Python set() so ITS join order is
    interpreter-dependent; we keep first-appearance order — deterministic,
    same value set.
    """
    arr = cols if isinstance(cols, Column) else F.array(*cols)
    arr = F.array_distinct(
        F.filter(arr, lambda x: x.isNotNull() & (x.cast("string") != ""))
    )
    if minus:
        arr = F.array_except(arr, F.array(*[F.coalesce(m, F.lit("")) for m in minus]))
    return F.array_join(arr, " - ")
