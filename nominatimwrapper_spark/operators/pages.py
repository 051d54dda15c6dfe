# -*- coding: utf-8 -*-
"""Pages pipeline: Common-Crawl-style table -> extracted addresses ->
geocoded + tiled points. The engine's flagship lifecycle (SURVEY.md §3.4):

    pages -> extract_text (F17, byte-identity invariant)
          -> extract candidate addresses from text (F18, posexplode)
          -> as-of dedup of recrawls (J11)
          -> geocode cascade (J8 + check)
          -> S2 cells (F19) -> rollups / PIP / kNN downstream
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.text import extract_text, extract_text_udf
from .spatial import latest_snapshot

# "Street Name 12, 1000 City" — street = up to 6 lazy tokens starting with a
# capital, house = digits(+letter), postcode = 4 digits (optional country
# letter), city = one capitalized token (hyphens/apostrophes allowed).
_ADDR_RE = re.compile(
    r"([A-ZÀ-Ý][\w'.\-]*(?: [A-Za-zÀ-Ýà-ÿ'.\-]+){0,6}?) "
    r"(\d{1,4}[a-zA-Z]?), ([A-Z]?-?\d{4}) ([A-ZÀ-Ý][\w'\-]*)"
)


def extract_addresses_from_text(text: str | None) -> list[dict[str, str]]:
    """All candidate postal addresses in a canonical-whitespace text."""
    if not text:
        return []
    return [
        dict(street=m.group(1), housenbr=m.group(2), postcode=m.group(3), city=m.group(4))
        for m in _ADDR_RE.finditer(text)
    ]


def extract_addresses_pdf(pages: pd.DataFrame) -> pd.DataFrame:
    """pages(url, warc_ts, html) -> one row per embedded address: (addr_key,
    url, warc_ts, street, housenbr, postcode, city, country), through the
    frozen text extractor. addr_key = url#position."""
    cols: dict[str, list] = {
        c: [] for c in ("addr_key", "url", "warc_ts", "street", "housenbr", "postcode", "city")
    }
    for url, ts, html in zip(pages["url"], pages["warc_ts"], pages["html"]):
        for pos, a in enumerate(extract_addresses_from_text(extract_text(html))):
            cols["addr_key"].append(f"{url}#{pos}")
            cols["url"].append(url)
            cols["warc_ts"].append(ts)
            for f, v in a.items():
                cols[f].append(v)
    return pd.DataFrame(cols).assign(country="")


def pages_to_addresses(pages: DataFrame, dedup_crawls: bool = True) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> one row per embedded address:
    (addr_key, url, warc_ts, street, housenbr, postcode, city, country).

    addr_key = url#position — unique per (deduped) page & address, which is
    what the cascade requires (PK semantics, nominatimwrapper.py:789-790).
    Text is recomputed from html with the frozen extractor (the
    byte-identity invariant makes this a no-op vs the text column)."""
    if dedup_crawls:
        pages = latest_snapshot(pages, "url", "warc_ts")
    schema = StructType(
        [StructField("addr_key", StringType()), pages.schema["url"], pages.schema["warc_ts"]]
        + [StructField(c, StringType()) for c in ("street", "housenbr", "postcode", "city", "country")]
    )
    return pages.select("url", "warc_ts", "html").mapInPandas(
        lambda it: map(extract_addresses_pdf, it), schema
    )


def verify_text_bytes(pages: DataFrame) -> DataFrame:
    """Rows violating the byte-identity invariant (must be empty):
    re-extracted text != stored golden text, compared per url."""
    return pages.withColumn("_re", extract_text_udf(F.col("html"))).filter(
        # null-safe: a null re-extraction must flag, not silently pass
        ~F.col("_re").eqNullSafe(F.col("text"))
    )
