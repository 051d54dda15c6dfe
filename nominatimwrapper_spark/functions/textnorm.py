# -*- coding: utf-8 -*-
"""Pure string-normalization and similarity kernels.

These are the scalar building blocks of the geocode checker. They
reproduce — value-for-value — the reference's pure functions
(reference: check_result_utils.py) so that the Spark engine's
match/no-match/fallback-level outcomes are identical:

- ``remove_accents``            check_result_utils.py:31-50
- ``damerau_levenshtein``       jellyfish-compatible unrestricted D-L
                                (used at check_result_utils.py:168)
- ``levenshtein_similarity``    check_result_utils.py:147-168
- ``inclusion_test``            check_result_utils.py:180-205
- ``fingerprint``               check_result_utils.py:212-240
- ``house_number_compare_one``  check_result_utils.py:56-97
- ``postcode_compare_one``      check_result_utils.py:103-141
- ``city_compare_one``          check_result_utils.py:428-459
- ``street_compare_one``        check_result_utils.py:250-416

Everything here is plain Python/NumPy so it can run inside vectorized
pandas UDFs (Arrow batches) on executors, and be unit/property-tested
without a SparkSession. Per-batch memoization (``_pair_cache``) plus the
caller-side dedup of candidate pairs keeps the O(n·m) D-L dynamic program
off the hot path at scale.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

__all__ = [
    "remove_accents",
    "damerau_levenshtein",
    "levenshtein_similarity",
    "inclusion_test",
    "fingerprint",
    "house_number_compare_one",
    "postcode_compare_one",
    "city_compare_one",
    "street_compare_one",
    "norm_street_part",
    "street_fingerprint_key",
    "city_key",
    "DONTWATCHTHIS",
    "SIMILARITY_THRESHOLD",
]

DONTWATCHTHIS = "DONOTCONSIDERTHISSTRING"

SIMILARITY_THRESHOLD = 0.5  # reference config.py:100

# street-word removals applied before Levenshtein scoring
# (reference: check_result_utils.py:250-254)
_STREET_COMPARE_REMOVES = [
    re.compile(r"\([A-Z.]+\)"),
    re.compile(r"\b(AVENUE|RUE|CHAUSSEE|BOULEVARD|PLACE)\b"),
    re.compile(r"(STRAAT|LAAN|STEENWEG|WEG)\b"),
]

_MULTISPACE = re.compile(r" [ ]+")
_NON_ALPHA = re.compile(r"[^A-Z ]+")
_NON_ALPHA_TO_SPACE = re.compile(r"[^A-Z]")
_NON_DIGIT_SPLIT = re.compile(r"[^0-9]")
_NON_DIGIT_ALL = re.compile(r"[^0-9]")
_PC_PREFIX = re.compile(r"^[A-Z]-?")


def remove_accents(s: str | None) -> str | None:
    """NFKD-normalize and strip combining marks (check_result_utils.py:31-50)."""
    if s is None:
        return None
    nfkd = unicodedata.normalize("NFKD", s)
    return "".join(c for c in nfkd if not unicodedata.combining(c))


@lru_cache(maxsize=1 << 16)
def damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (adjacent transposition
    counted once, and a transposed pair may be edited further).

    Matches ``jellyfish.damerau_levenshtein_distance`` semantics — the
    distance the reference feeds into its similarity score.
    """
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la

    maxdist = la + lb
    # da: last row where each character was seen in `a`
    da: dict[str, int] = {}
    # DP matrix with sentinel row/col at index 0 holding maxdist
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j

    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,  # substitution
                d[i + 1][j] + 1,  # insertion
                d[i][j + 1] + 1,  # deletion
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),  # transposition
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def levenshtein_similarity(s1: str, s2: str) -> float:
    """1 - DL(s1,s2)/max(len); 0.0 when both empty
    (check_result_utils.py:147-168)."""
    if len(s1) > 0 or len(s2) > 0:
        return 1.0 - damerau_levenshtein(s1, s2) / max(len(s1), len(s2))
    return 0.0


def _common_prefix_len(s1: str, s2: str) -> int:
    n = min(len(s1), len(s2))
    i = 0
    while i < n and s1[i] == s2[i]:
        i += 1
    return i


def inclusion_test(s1: str, s2: str) -> int:
    """1 when one string equals the other up to an inserted substring
    ("Avenue C Berten" vs "Avenue Clovis Berten");
    check_result_utils.py:180-205."""
    l_pref = _common_prefix_len(s1, s2)
    l_suf = _common_prefix_len(s1[::-1], s2[::-1])
    return 1 if l_pref > 0 and l_suf > 0 and l_pref + l_suf >= min(len(s1), len(s2)) else 0


def fingerprint(s: str | None) -> str:
    """Letters-only, word-sorted, deduped form of an (already uppercased,
    accent-stripped) string: "RUE DU BAS DU VILLAGE" -> "BAS DU RUE VILLAGE"
    (check_result_utils.py:212-240)."""
    if s is None:
        s = ""
    s = _NON_ALPHA_TO_SPACE.sub(" ", s).strip()
    if not s:
        return ""
    return " ".join(sorted(set(re.split(r"[ ]+", s))))


def house_number_compare_one(n1: str | None, n2: str | None) -> float:
    """Scalar equivalent of the reference's vectorized house-number compare
    (check_result_utils.py:56-97): 1 exact, 0.8 range overlap on split
    chunks, 0.5 digits-equal, 0 otherwise."""
    n1 = ("" if n1 is None else str(n1)).strip()
    n2 = ("" if n2 is None else str(n2)).strip()
    if n1 == n2 and len(n1) > 0:
        return 1.0
    s1 = _NON_DIGIT_SPLIT.split(n1)
    s2 = _NON_DIGIT_SPLIT.split(n2)
    # pandas expand=True fills missing pieces with None; None == x is False.
    if len(s2) > 1 and len(s1) >= 1 and s1[0] == s2[1] and len(s2[1]) > 0:
        return 0.8
    if len(s1) > 1 and len(s2) >= 1 and s1[1] == s2[0] and len(s1[1]) > 0:
        return 0.8
    d1 = _NON_DIGIT_ALL.sub("", n1)
    d2 = _NON_DIGIT_ALL.sub("", n2)
    if d1 == d2 and len(n1) > 0 and len(n2) > 0:
        return 0.5
    return 0.0


def postcode_compare_one(p1: str | None, p2: str | None) -> float:
    """Scalar postcode compare (check_result_utils.py:103-141):
    1 exact (incl. both empty), 0.1 one missing, 0.5 2-digit prefix,
    0.3 1-digit prefix, 0 otherwise. Leading country letter stripped."""
    p1 = _PC_PREFIX.sub("", "" if p1 is None else str(p1))
    p2 = _PC_PREFIX.sub("", "" if p2 is None else str(p2))
    if p1 == p2:
        return 1.0
    if len(p1) == 0 or len(p2) == 0:
        return 0.1
    if p1[0:2] == p2[0:2]:
        return 0.5
    if p1[0:1] == p2[0:1]:
        return 0.3
    return 0.0


def _norm_city(c: str | None) -> str:
    c = "" if c is None else str(c)
    c = remove_accents(c.upper()) or ""
    return _MULTISPACE.sub(" ", c.strip())


def city_compare_one(c1: str | None, c2: str | None) -> float:
    """Scalar city compare: normalize then Levenshtein similarity
    (check_result_utils.py:428-459)."""
    return levenshtein_similarity(_norm_city(c1), _norm_city(c2))


def norm_street_part(p: str) -> str:
    """Uppercase, strip accents, keep letters+spaces, collapse spaces —
    the per-part normalization in street_compare
    (check_result_utils.py:370-378). DONTWATCHTHIS passes through."""
    p = remove_accents(p.upper()) or ""
    p = _NON_ALPHA.sub(" ", p)
    return _MULTISPACE.sub(" ", p).strip()


def _apply_removes(s: str, removes) -> str:
    for rx in removes:
        s = rx.sub("", s)
    return _MULTISPACE.sub(" ", s.strip())


def _street_compare_pair(a: str, b: str, algo, removes) -> float:
    """Scalar _street_compare (check_result_utils.py:258-314).

    The reference's length-difference guard compares STR1 with itself
    (line 300) so it never fires; we replicate the *observed* behavior
    (no length guard)."""
    a = _apply_removes(a, removes)
    b = _apply_removes(b, removes)
    if a == DONTWATCHTHIS or b == DONTWATCHTHIS:
        return 0.0
    if a == "" and b == "":
        return 1.0
    return float(algo(a, b))


def _split_street(s: str | None) -> list[str]:
    """Split on "," / " - " (bilingual "Avenue Louise - Louizalaan"),
    reference check_result_utils.py:361-362."""
    s = "" if s is None else str(s)
    return s.replace(",", " - ").split(" - ")


@lru_cache(maxsize=1 << 15)
def street_compare_one(street1: str | None, street2: str | None) -> float:
    """Scalar street compare — max of 12 scores over the 2x2 part splits ×
    {Levenshtein sim (street-words removed), strict inclusion, fingerprint
    Levenshtein sim} (check_result_utils.py:317-416).

    Parts absent on one side score 0 via the DONTWATCHTHIS sentinel, which
    is exactly the reference's fillna(dontwatchthis) on the expanded split —
    so per-row results are independent of batch composition.
    """
    parts1 = [norm_street_part(p) for p in _split_street(street1)]
    parts2 = [norm_street_part(p) for p in _split_street(street2)]
    fps1 = [fingerprint(p) for p in parts1]
    fps2 = [fingerprint(p) for p in parts2]
    best = 0.0
    for ai, pa in enumerate(parts1):
        for bi, pb in enumerate(parts2):
            best = max(
                best,
                _street_compare_pair(pa, pb, levenshtein_similarity, _STREET_COMPARE_REMOVES),
                _street_compare_pair(pa, pb, inclusion_test, []),
                _street_compare_pair(fps1[ai], fps2[bi], levenshtein_similarity, _STREET_COMPARE_REMOVES),
            )
            if best >= 1.0:
                return best
    return best


def street_fingerprint_key(street: str | None) -> str:
    """Lookup key for the gazetteer join: fingerprint of the normalized
    FIRST bilingual part. Gazetteer side indexes every part, so any part
    of "Avenue Louise - Louizalaan" keys to the same rows."""
    parts = _split_street(street)
    return fingerprint(norm_street_part(parts[0])) if parts else ""


def city_key(city: str | None) -> str:
    """Lookup key for city matching: letters-only fingerprint of the
    normalized city name."""
    return fingerprint(_norm_city(city))
