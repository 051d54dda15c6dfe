# -*- coding: utf-8 -*-
"""Golden, differential and property tests for the string/similarity kernel.

Every scalar is checked against golden values frozen from the engine
(fixtures/engine_golden.json) and, where the reference implementation's
check_result_utils.py is importable, against it on the same inputs.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nominatimwrapper_spark.functions import textnorm as tn

STREETS = [
    "Avenue Louise",
    "Avenue Louise - Louizalaan",
    "Louizalaan",
    "avenue louise",
    "AVENUE LOUISE",
    "Avenue Luise",
    "Av. Louise",
    "Avenue C Berten",
    "Avenue Clovis Berten",
    "Rue du Bas du Village",
    "Bas du Rue Village",
    "Place Louise",
    "Bruxelles, Avenue Louise",
    "Avenue Louise, 10",
    "Chaussée de Gand",
    "CHAUSSEE DE GAND",
    "Kerkstraat",
    "Rue de l'Église",
    "",
    None,
    "Avenue Fonsny (SN)",
    "Boulevard Anspach - Anspachlaan",
    "A - B - C",
]

HOUSE_NUMBERS = ["10", "10-12", "12", "10a", "10 B", "", None, "30 bt 2", "30", "10b12", "0", "a"]

POSTCODES = ["1060", "1000", "1050", "B-1060", "L1060", "1061", "1160", "9000", "", None, "10"]

CITIES = ["Bruxelles", "Brussel", "BRUXELLES", "Liège", "Liege", "Gent", "", None, "Saint-Gilles"]

ACCENTED = ["Liège", "Chaussée", "Élysée", "ça", "ümlaut", "Æon", "ﬁ", "abc"]

FINGERPRINTS = ["RUE DU BAS DU VILLAGE", "AVENUE LOUISE", "A  B   A", "", "X"]

INCLUSION_PAIRS = [
    ("AVENUE C BERTEN", "AVENUE CLOVIS BERTEN"),
    ("AVENUE CLOVIS BERTEN", "AVENUE C BERTEN"),
    ("AVENUE LOUISE", "PLACE LOUISE"),
    ("ABC", "ABC"),
    ("", "ABC"),
    ("A", "B"),
]


def _pairs(vals):
    return [(a, b) for a in vals for b in vals]


def _ref_series(fn, pairs):
    s1 = pd.Series([a for a, _ in pairs])
    s2 = pd.Series([b for _, b in pairs])
    return fn(s1, s2).tolist()


_SCALARS = {
    "remove_accents": (tn.remove_accents, ACCENTED),
    "fingerprint": (tn.fingerprint, FINGERPRINTS),
    "inclusion_test": (lambda p: tn.inclusion_test(*p), INCLUSION_PAIRS),
}

_COMPARES = {
    "house_number_compare": (tn.house_number_compare_one, HOUSE_NUMBERS),
    "postcode_compare": (tn.postcode_compare_one, POSTCODES),
    "city_compare": (tn.city_compare_one, CITIES),
    "street_compare": (tn.street_compare_one, STREETS),
}


@pytest.mark.parametrize("name", list(_SCALARS))
def test_scalar_golden(engine_golden, name):
    fn, vals = _SCALARS[name]
    g = engine_golden["textnorm"][name]
    assert g["inputs"] == [list(v) if isinstance(v, tuple) else v for v in vals]
    assert [fn(v) for v in vals] == g["outputs"]


@pytest.mark.parametrize("name", list(_COMPARES))
def test_compare_golden(engine_golden, name):
    fn, vals = _COMPARES[name]
    g = engine_golden["textnorm"][name]
    assert g["inputs"] == vals
    assert [fn(a, b) for a, b in _pairs(vals)] == g["outputs"]


def test_remove_accents_differential(refmod):
    for v in ACCENTED:
        assert tn.remove_accents(v) == refmod.check_result_utils.remove_accents(v)
    assert tn.remove_accents(None) is None


def test_house_number_compare_differential(refmod):
    pairs = _pairs(HOUSE_NUMBERS)
    ref = _ref_series(refmod.check_result_utils.house_number_compare, pairs)
    got = [tn.house_number_compare_one(a, b) for a, b in pairs]
    assert got == ref


def test_house_number_truth_table():
    # pinned to the reference's ACTUAL behavior (check_result_utils.py:84-95).
    # NB: its docstring claims "10 vs 10-12 -> 0.8" but the code compares
    # n1's FIRST chunk to n2's SECOND chunk, so that pair scores 0.0; the
    # differential test above is the authority.
    assert tn.house_number_compare_one("10", "10") == 1.0
    assert tn.house_number_compare_one("10", "12-10") == 0.8
    assert tn.house_number_compare_one("12-10", "10") == 0.8
    assert tn.house_number_compare_one("10", "10-12") == 0.0
    assert tn.house_number_compare_one("10a", "10") == 0.5
    assert tn.house_number_compare_one("10a", "10 B") == 0.5
    assert tn.house_number_compare_one("", "") == 0.0
    assert tn.house_number_compare_one("10", "11") == 0.0


def test_postcode_compare_differential(refmod):
    pairs = _pairs(POSTCODES)
    ref = _ref_series(refmod.check_result_utils.postcode_compare, pairs)
    got = [tn.postcode_compare_one(a, b) for a, b in pairs]
    assert got == ref


def test_postcode_truth_table():
    assert tn.postcode_compare_one("1060", "1060") == 1.0
    assert tn.postcode_compare_one("1060", "1000") == 0.5
    assert tn.postcode_compare_one("1060", "1160") == 0.3
    assert tn.postcode_compare_one("1060", "") == 0.1
    assert tn.postcode_compare_one("1060", "9000") == 0.0
    assert tn.postcode_compare_one("B-1060", "1060") == 1.0


def test_city_compare_differential(refmod):
    pairs = _pairs(CITIES)
    ref = _ref_series(refmod.check_result_utils.city_compare, pairs)
    got = [tn.city_compare_one(a, b) for a, b in pairs]
    assert got == pytest.approx(ref)


def test_street_compare_differential(refmod):
    pairs = _pairs(STREETS)
    ref = _ref_series(refmod.check_result_utils.street_compare, pairs)
    got = [tn.street_compare_one(a, b) for a, b in pairs]
    assert got == pytest.approx(ref)


def test_fingerprint_differential(refmod):
    ref = refmod.check_result_utils.fingerprint(pd.Series(FINGERPRINTS)).tolist()
    got = [tn.fingerprint(v) for v in FINGERPRINTS]
    assert got == ref
    assert tn.fingerprint("RUE DU BAS DU VILLAGE") == "BAS DU RUE VILLAGE"


def test_inclusion_differential(refmod):
    for a, b in INCLUSION_PAIRS:
        assert tn.inclusion_test(a, b) == refmod.check_result_utils.inclusion_test(a, b)


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ABCD", max_size=8),
    st.text(alphabet="ABCD", max_size=8),
    st.text(alphabet="ABCD", max_size=8),
)
def test_damerau_levenshtein_property(a, b, c):
    got = tn.damerau_levenshtein(a, b)
    # metric axioms
    assert got == tn.damerau_levenshtein(b, a)
    assert (got == 0) == (a == b)
    assert got <= tn.damerau_levenshtein(a, c) + tn.damerau_levenshtein(c, b)
    # bounds: |len diff| <= DL <= plain Levenshtein <= max len
    assert abs(len(a) - len(b)) <= got <= _plain_lev(a, b) <= max(len(a), len(b), got)


def _plain_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_damerau_levenshtein_pinned():
    # known unrestricted-DL values (differ from OSA on the last case)
    assert tn.damerau_levenshtein("cape sand recycling ", "edith ann graham") == 17
    assert tn.damerau_levenshtein("jellyfish", "smellyfish") == 2
    assert tn.damerau_levenshtein("ab", "ba") == 1
    assert tn.damerau_levenshtein("abc", "ca") == 2  # OSA would give 3
    assert tn.damerau_levenshtein("", "abc") == 3


def test_levenshtein_similarity_edges():
    assert tn.levenshtein_similarity("", "") == 0.0
    assert tn.levenshtein_similarity("a", "") == 0.0
    assert tn.levenshtein_similarity("abc", "abc") == 1.0


def test_street_compare_pinned():
    # bilingual: either language matches the combined gazetteer form
    assert tn.street_compare_one("Louizalaan", "Avenue Louise - Louizalaan") == 1.0
    assert tn.street_compare_one("Avenue Louise", "Avenue Louise - Louizalaan") == 1.0
    # word order is irrelevant thanks to the fingerprint variant
    assert tn.street_compare_one("Bas du Rue Village", "Rue du Bas du Village") == 1.0
    # inclusion: abbreviated middle name
    assert tn.street_compare_one("Avenue C Berten", "Avenue Clovis Berten") == 1.0
    # street-word removal must not make different streets equal
    assert tn.street_compare_one("Avenue Louise", "Place Louise") == 1.0  # known ref behavior
    # both empty -> 1.0 (reference rule)
    assert tn.street_compare_one("", "") == 1.0
