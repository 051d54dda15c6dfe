# -*- coding: utf-8 -*-
"""Text extraction from Common-Crawl-style HTML (FROZEN SPEC).

``extract_text`` is the engine's reference extractor: the per-url golden
``text`` column in the pages table is produced by this exact function, and
the pipeline invariant (BASELINE.json input_hint) is that re-extraction is
byte-identical per url. The spec below is deliberately small, deterministic,
and stdlib-only — DO NOT CHANGE IT (changing it invalidates every golden).

Spec (applied in order):
1. decode: strict utf-8, on failure latin-1 (which never fails)
2. drop <script>/<style> elements and HTML comments (case-insensitive,
   dot-matches-newline)
3. every remaining tag -> single space
4. decode HTML entities: named set (amp lt gt quot apos nbsp) + numeric
   decimal/hex; unknown entities pass through verbatim
5. collapse all whitespace runs to a single space; strip ends

Also here: the n-gram language-ID heuristic and the FNV-1a word hash used
by the text-analysis operators.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.IGNORECASE | re.DOTALL)
_STYLE_RE = re.compile(r"<style\b.*?</style\s*>", re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")
_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")

_NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}


def _decode_entity(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#"):
        try:
            code = int(body[2:], 16) if body[1:2] in ("x", "X") else int(body[1:])
            return chr(code)
        except (ValueError, OverflowError):
            return m.group(0)
    return _NAMED_ENTITIES.get(body, m.group(0))


def extract_text(html: bytes | None) -> str | None:
    """FROZEN extractor — see module docstring. bytes -> canonical text."""
    if html is None:
        return None
    try:
        s = html.decode("utf-8")
    except UnicodeDecodeError:
        s = html.decode("latin-1")
    s = _SCRIPT_RE.sub(" ", s)
    s = _STYLE_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = _ENTITY_RE.sub(_decode_entity, s)
    return _WS_RE.sub(" ", s).strip()


@pandas_udf(StringType())
def extract_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Arrow-batched extractor (Iterator form: amortizes per-batch setup;
    html payloads are large so batches stream rather than materialize)."""
    for html in batches:
        yield html.map(extract_text)


# ---------------------------------------------------------------------------
# language ID — tiny stopword-ratio heuristic (deterministic)
# ---------------------------------------------------------------------------

_LANG_STOPWORDS: dict[str, frozenset[str]] = {
    "fr": frozenset(
        "le la les de des du un une et est dans pour sur avec rue avenue que qui au aux ce cette".split()
    ),
    "nl": frozenset(
        "de het een en van in voor met op straat laan is dat die niet aan bij ook naar".split()
    ),
    "en": frozenset(
        "the a an and of in for with on street avenue is that this not at by also to".split()
    ),
}
_WORD_RE = re.compile(r"[a-zà-ÿ']+")


def detect_lang(text: str | None) -> str:
    """argmax stopword hit-count over {fr,nl,en}; ties resolve by fixed
    priority en > fr > nl. Empty/None/no-hit -> 'und'."""
    if not text:
        return "und"
    words = _WORD_RE.findall(text.lower())
    if not words:
        return "und"
    scores = {lang: sum(w in sw for w in words) for lang, sw in _LANG_STOPWORDS.items()}
    best = max(scores.values())
    if best == 0:
        return "und"
    for lang in ("en", "fr", "nl"):  # fixed priority for ties
        if scores[lang] == best:
            return lang
    return "und"


@pandas_udf(StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    return text.map(detect_lang)


# ---------------------------------------------------------------------------
# 64-bit FNV-1a (the SimHash word hash, operators/dedup.simhash_np)
# ---------------------------------------------------------------------------

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a_64(data: bytes) -> int:
    h = _FNV_OFFSET
    for byte in data:
        h ^= byte
        h = (h * _FNV_PRIME) & _MASK64
    return h
