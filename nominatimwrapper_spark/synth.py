# -*- coding: utf-8 -*-
"""Deterministic synthetic world: gazetteer + web pages + cascade fixtures.

Everything is generated from a seeded RNG — no external data (sandbox rule).
Shapes follow FIXTURES.md:

- ``gazetteer``  — OSM-style rows (city rank 16 / street rank 26 / house
  rank 30), bilingual street names "Avenue X - Xlaan", alt_names with an
  old_name used by the parent-rescue path, one HOT city holding ~25% of
  everything so skew handling is actually exercised.
- ``pages``      — Common-Crawl-style (url, warc_ts, html, text, lang);
  html embeds 0-3 addresses in a canonical extractable form plus decoy
  prose; ``text`` is the FROZEN extractor's golden output; duplicate urls
  across warc_ts exercise as-of dedup.
- ``addresses``  — structured cascade-fixture inputs, each engineered to
  resolve at a KNOWN transformer stage (expected_method/rank/place_id per
  FIXTURES.md §3).
- ``polygons``   — one ring per city (contains all that city's points),
  incl. a concave one; packed [x0,y0,x1,y1,...] + bbox columns.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from .functions.text import extract_text

# (name_fr, name_nl_or_None, postcode, lat, lon, weight)
CITIES = [
    ("Bruxenne", "Brussene", "1000", 50.8466, 4.3528, 0.25),  # HOT city (skew)
    ("Saint-Gervais", "Sint-Gervaas", "1060", 50.7800, 4.2800, 0.10),
    ("Elsette", "Elsene-Zuid", "1050", 50.9100, 4.4300, 0.08),
    ("Lieffe", None, "4000", 50.6326, 5.5797, 0.08),
    ("Gandaux", "Gentbeke", "9000", 51.0543, 3.7174, 0.08),
    ("Anverre", "Antwerpe", "2000", 51.2194, 4.4025, 0.08),
    ("Namoure", None, "5000", 50.4674, 4.8718, 0.07),
    ("Charlemont", None, "6000", 50.4108, 4.4446, 0.06),
    ("Louvette", "Leuvene", "3000", 50.8796, 4.7009, 0.06),
    ("Brugeois", "Bruggene", "8000", 51.2093, 3.2247, 0.05),
    ("Montois", None, "7000", 50.4542, 3.9514, 0.05),
    ("Arlonne", None, "6700", 49.6833, 5.8167, 0.04),
]

FR_KINDS = ["Rue", "Avenue", "Chaussée", "Boulevard", "Place"]
NL_SUFFIX = {"Rue": "straat", "Avenue": "laan", "Chaussée": "steenweg", "Boulevard": "laan", "Place": "plein"}

NAME_VOCAB = [
    "Louise", "Fonsny", "Berten", "Anspach", "Clovis", "Wauters", "Verhaeren",
    "Meyerbeer", "Dailly", "Josaphat", "Rogier", "Lemonnier", "Brouckère",
    "Stalle", "Royale", "Neuve", "Haute", "Basse", "Verte", "Longue",
    "Church", "Flandre", "Namur", "Waterloo", "Tervueren", "Alsemberg",
    "Ninove", "Gand", "Mons", "Houba", "Meiser", "Georges", "Henri",
    "Paul", "Émile", "Jean", "Marie", "Albert", "Léopold", "Baudouin",
    "Elisabeth", "Astrid", "Fabiola", "Vésale", "Vergote", "Linthout",
    "Cortenbergh", "Stévin", "Palmerston", "Marnix", "Trône", "Luxembourg",
    "Belliard", "Froissart", "Archimède", "Pascale", "Colignon", "Helmet",
]

COUNTRY = "Belgique"
BASE_TS = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


def gen_gazetteer(n_streets: int = 240, houses_per_street: int = 8, seed: int = 42) -> pd.DataFrame:
    """OSM-style gazetteer. place_id is dense; houses point at their street
    via parent_place_id (parent-rescue join, reference
    check_result_utils.py:560-644). A street's (postcode, base name) is
    unique, so at most (cities drawn) x len(NAME_VOCAB) streets exist:
    asking for more raises ValueError instead of drawing forever."""
    most = len({c[2] for c in CITIES if c[5] > 0}) * len(set(NAME_VOCAB))
    if n_streets > most:
        raise ValueError(f"n_streets={n_streets} exceeds the {most} distinct (postcode, name) streets")
    rng = np.random.default_rng(seed)
    weights = np.array([c[5] for c in CITIES])
    weights = weights / weights.sum()

    rows = []
    pid = 1000

    # Nominatim's address.* keys are DYNAMIC: the street may arrive under
    # road / pedestrian / square ..., the locality under town / village /
    # city ... — the collapse map (reference config.py:115-122) must absorb
    # this. Extra keys (suburb, state) belong to no output field and land in
    # output.other. Vocab is deliberately disjoint from street names so the
    # checker's street similarity never keys on an 'other' value.
    _STREET_KEYS = ["road", "pedestrian", "footway", "path", "square"]
    _CITY_KEYS = ["town", "village", "city_district", "county", "city"]
    _SUBURBS = ["Quartier Nord", "Quartier Sud", "Quartier Centre", "Quartier Ouest"]
    _STATE = "Region Synthetique"

    def _mk_address(street, hn, pc, city, extra_p=0.3):
        a = {}
        if street:
            a[_STREET_KEYS[int(rng.integers(0, len(_STREET_KEYS)))] if rng.random() < 0.4 else "road"] = street
        if hn:
            a["house_number"] = hn
        a[_CITY_KEYS[int(rng.integers(0, len(_CITY_KEYS)))] if rng.random() < 0.4 else "city"] = city
        a["postcode"] = pc
        a["country"] = COUNTRY
        if rng.random() < extra_p:
            a["suburb"] = _SUBURBS[int(rng.integers(0, len(_SUBURBS)))]
        if rng.random() < 0.15:
            a["state"] = _STATE
        return a

    city_pids = {}
    for name_fr, name_nl, pc, lat, lon, _w in CITIES:
        city_name = name_fr
        rows.append(
            dict(
                place_id=pid, parent_place_id=0, street_name="", alt_names={},
                house_number="", post_code=pc, city=city_name, country=COUNTRY,
                lat=lat, lon=lon, place_rank=16, category="place",
                importance=0.8, name_fr=name_fr, name_nl=name_nl or "",
                address=_mk_address("", "", pc, city_name),
            )
        )
        city_pids[pc] = pid
        pid += 1

    # streets: sample city by weight, name by vocab (kind, name) unique per city
    used = set()
    made = 0
    while made < n_streets:
        ci = int(rng.choice(len(CITIES), p=weights))
        name_fr, name_nl, pc, clat, clon, _w = CITIES[ci]
        kind = FR_KINDS[int(rng.integers(0, len(FR_KINDS)))]
        base = NAME_VOCAB[int(rng.integers(0, len(NAME_VOCAB)))]
        # base unique per city (not per (city, kind)): two same-base streets
        # of different kinds in one city would make fuzzy street rescue
        # legitimately ambiguous — a tie on everything but importance
        key = (pc, base)
        if key in used:
            continue
        used.add(key)
        made += 1

        fr_street = f"{kind} {base}"
        bilingual = name_nl is not None
        nl_street = f"{base}{NL_SUFFIX[kind]}" if bilingual else ""
        canonical = f"{fr_street} - {nl_street}" if bilingual else fr_street

        alt = {"name": canonical, "name:fr": fr_street}
        if bilingual:
            alt["name:nl"] = nl_street
        # ~20% of streets get an old name (parent-rescue material)
        has_old = rng.random() < 0.2
        if has_old:
            alt["old_name"] = f"Ancienne {fr_street}"

        # truncated offsets -> bounded city extent (PIP polygons can then
        # guarantee containment without overlapping a neighboring city)
        slat = clat + float(np.clip(rng.normal(0, 0.008), -0.02, 0.02))
        slon = clon + float(np.clip(rng.normal(0, 0.008), -0.02, 0.02))
        street_pid = pid
        rows.append(
            dict(
                place_id=pid, parent_place_id=city_pids[pc], street_name=canonical,
                alt_names=alt, house_number="", post_code=pc, city=name_fr,
                country=COUNTRY, lat=slat, lon=slon, place_rank=26,
                category="highway", importance=float(np.round(rng.uniform(0.2, 0.6), 6)),
                name_fr=fr_street, name_nl=nl_street,
                address=_mk_address(canonical, "", pc, name_fr),
            )
        )
        pid += 1

        n_houses = int(rng.integers(max(1, houses_per_street - 4), houses_per_street + 5))
        numbers = rng.choice(np.arange(1, 60), size=min(n_houses, 59), replace=False)
        for hn in sorted(int(x) for x in numbers):
            rows.append(
                dict(
                    place_id=pid, parent_place_id=street_pid, street_name=canonical,
                    alt_names={}, house_number=str(hn), post_code=pc, city=name_fr,
                    country=COUNTRY,
                    lat=slat + float(np.clip(rng.normal(0, 0.0012), -0.003, 0.003)),
                    lon=slon + float(np.clip(rng.normal(0, 0.0018), -0.0045, 0.0045)),
                    place_rank=30, category="building",
                    importance=float(np.round(rng.uniform(0.0, 0.2), 6)),
                    name_fr=fr_street, name_nl=nl_street,
                    address=_mk_address(canonical, str(hn), pc, name_fr),
                )
            )
            pid += 1

    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

_PROSE = (
    "horaires ouverture contact info menu accueil actualités services "
    "openingsuren nieuws diensten welkom over ons contacteer prijs "
    "about services news opening hours contact us terms privacy"
).split()


def _addr_line(street_disp: str, hn: str, pc: str, city: str) -> str:
    return f"{street_disp} {hn}, {pc} {city}"


def gen_pages(
    gaz: pd.DataFrame, n_pages: int = 800, seed: int = 43, dup_frac: float = 0.08
) -> pd.DataFrame:
    """Web pages embedding 0-3 gazetteer addresses in extractable form.
    ``text`` is the FROZEN extractor's output on ``html`` (the byte-identity
    golden). ~dup_frac of urls appear twice with different warc_ts."""
    rng = np.random.default_rng(seed)
    houses = gaz[gaz.place_rank == 30].reset_index(drop=True)
    langs = ["fr", "nl", "en"]

    rows = []
    for i in range(n_pages):
        lang = langs[int(rng.integers(0, 3))]
        n_addr = int(rng.choice([0, 1, 2, 3], p=[0.25, 0.45, 0.2, 0.1]))
        idx = rng.integers(0, len(houses), size=n_addr)
        addr_lines = []
        for j in idx:
            h = houses.iloc[int(j)]
            # display language of the street name: pick fr or nl part
            disp = h.name_nl if (lang == "nl" and h.name_nl) else h.name_fr
            addr_lines.append(_addr_line(disp, h.house_number, h.post_code, h.city))
        prose = " ".join(rng.choice(_PROSE, size=12))
        body = "".join(
            f"<p>Adresse: {line}</p>" for line in addr_lines
        ) + f"<p>{prose}</p><p>t&eacute;l: 02/{int(rng.integers(100,999))}.{int(rng.integers(10,99))}</p>"
        enc = "latin-1" if rng.random() < 0.15 else "utf-8"
        html_s = (
            f"<html><head><title>Page {i}</title><style>p{{margin:0}}</style>"
            f"<script>var x = '<p>decoy</p>';</script></head>"
            f"<body><!-- comment {i} --><nav>menu &amp; liens</nav>{body}</body></html>"
        )
        html = html_s.encode(enc, errors="replace")
        url = f"https://site-{int(rng.integers(0, max(10, n_pages // 6)))}.example.be/page-{i}.html"
        ts = BASE_TS + dt.timedelta(minutes=int(rng.integers(0, 60 * 24 * 30)))
        rows.append(dict(url=url, warc_ts=ts, html=html, text=extract_text(html), lang=lang))

    # duplicate-crawl urls (later warc_ts, slightly different html)
    n_dup = int(n_pages * dup_frac)
    for k in range(n_dup):
        src = dict(rows[int(rng.integers(0, n_pages))])
        html2 = src["html"] + b"<p>recrawl</p>"
        src.update(
            warc_ts=src["warc_ts"] + dt.timedelta(days=35),
            html=html2,
            text=extract_text(html2),
        )
        rows.append(src)
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# cascade fixtures (addresses engineered per expected stage)
# ---------------------------------------------------------------------------


def gen_addresses(gaz: pd.DataFrame, n_per_class: int = 12, seed: int = 44) -> pd.DataFrame:
    """Structured inputs with known cascade outcomes (FIXTURES.md §3).

    Classes (expected_method):
      orig_exact      house row, fields verbatim            -> orig, rank 30
      orig_street     unknown house number                  -> orig, rank 26
      orig_nl         dutch part of a bilingual street      -> orig, rank 30
      retry26         "N bt 2" house                        -> orig, rank 30 + cleansed flag
      regex_init      street + " (annexe)" paren suffix     -> regex[init], rank 30
      regex_init_sn   street + " SN"                        -> regex[init], rank 26
      lpost           whole address crammed in street field -> libpostal+regex[lpost], rank 30
      lpost_photon    misspelled street (1 transposition)   -> libpostal+regex[lpost]+photon
      nostreet        garbage street, good locality         -> nostreet, rank 16
      nomatch         garbage everything                    -> NOMATCH
    """
    rng = np.random.default_rng(seed)
    houses = gaz[(gaz.place_rank == 30)].reset_index(drop=True)
    gaz_streets = gaz[gaz.place_rank == 26].reset_index(drop=True)
    city_rows = gaz[gaz.place_rank == 16].set_index("post_code")

    def pick_house():
        return houses.iloc[int(rng.integers(0, len(houses)))]

    rows = []
    k = 0

    def add(cls, street, hn, pc, city, exp_method, exp_rank, exp_pid, cleansed=False):
        nonlocal k
        rows.append(
            dict(
                referenceKey=f"addr-{k:05d}", addr_class=cls,
                streetName=street, houseNumber=hn, postCode=pc, postName=city,
                countryName=COUNTRY,
                expected_method=exp_method, expected_place_rank=exp_rank,
                expected_place_id=exp_pid,
                expected_cleansed=cleansed,
            )
        )
        k += 1

    for _ in range(n_per_class):
        h = pick_house()
        add("orig_exact", h.name_fr, h.house_number, h.post_code, h.city, "orig", 30, h.place_id)

        h = pick_house()
        street_pid = h.parent_place_id
        add("orig_street", h.name_fr, "9999", h.post_code, h.city, "orig", 26, street_pid)

        # dutch display form of a bilingual street
        cand = houses[houses.name_nl != ""]
        h = cand.iloc[int(rng.integers(0, len(cand)))]
        add("orig_nl", h.name_nl, h.house_number, h.post_code, h.city, "orig", 30, h.place_id)

        h = pick_house()
        add("retry26", h.name_fr, f"{h.house_number} bt 2", h.post_code, h.city, "orig", 30, h.place_id, cleansed=True)

        h = pick_house()
        add("regex_init", f"{h.name_fr} (annexe)", h.house_number, h.post_code, h.city, "regex[init]", 30, h.place_id)

        h = pick_house()
        add("regex_init_sn", f"{h.name_fr} SN", "", h.post_code, h.city, "regex[init]", 26, h.parent_place_id)

        h = pick_house()
        add(
            "lpost", f"{h.name_fr} {h.house_number}, {h.post_code} {h.city}", "", "", "",
            "libpostal+regex[lpost]", 30, h.place_id,
        )

        # transpose two adjacent letters inside the name part (keeps length)
        h = pick_house()
        name = h.name_fr
        pos = name.rfind(" ") + 1
        if len(name) - pos >= 4:
            i0 = pos + 1
            name = name[:i0] + name[i0 + 1] + name[i0] + name[i0 + 2 :]
        add(
            "lpost_photon", name, h.house_number, h.post_code, h.city,
            "libpostal+regex[lpost]+photon", 30, h.place_id,
        )

        h = pick_house()
        add(
            "nostreet", "Xyzzqw Plugh", "", h.post_code, h.city,
            "nostreet", 16, int(city_rows.loc[h.post_code].place_id),
        )

        add("nomatch", "Xyzzqw Plugh", "12", "0000", "Nulleville", "NOMATCH", -1, -1)

    # a couple of parent-rescue fixtures: input uses the street's old_name
    olds = gaz_streets[gaz_streets.alt_names.map(lambda a: "old_name" in a)]
    for _, srow in olds.head(max(2, n_per_class // 4)).iterrows():
        hh = houses[houses.parent_place_id == srow.place_id]
        if len(hh) == 0:
            continue
        h = hh.iloc[0]
        add(
            "parent_rescue", srow.alt_names["old_name"], h.house_number, h.post_code, h.city,
            "orig", 30, h.place_id,
        )

    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# polygons — one ring per city; all of a city's gazetteer points inside
# ---------------------------------------------------------------------------


def gen_polygons(gaz: pd.DataFrame, seed: int = 45) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    for poly_id, (name_fr, _nl, pc, clat, clon, _w) in enumerate(CITIES):
        pts = gaz[(gaz.post_code == pc)]
        # radius big enough to contain every point of the city, small enough
        # to never reach another city (centers are >0.1 deg apart)
        max_r = 1e-9
        if len(pts):
            max_r = float(
                np.sqrt((pts.lat - clat) ** 2 + (pts.lon - clon) ** 2).max()
            )
        base_r = max_r * 1.05 + 0.002
        n_vert = int(rng.integers(8, 14))
        # evenly spaced angles with bounded jitter: max angular gap <=
        # 1.6*(2pi/n), so radii >= base_r/cos(0.8*pi/n) guarantees every
        # chord stays outside the point cloud (containment by construction)
        spacing = 2 * np.pi / n_vert
        angles = np.arange(n_vert) * spacing + rng.uniform(-0.3, 0.3, size=n_vert) * spacing
        min_factor = 1.0 / np.cos(0.8 * np.pi / n_vert) + 0.02
        # concave for the hot city: alternate radius in/out (still >= min)
        if poly_id == 0:
            radii = base_r * min_factor * (1.0 + 0.45 * (np.arange(n_vert) % 2))
        else:
            radii = base_r * min_factor * rng.uniform(1.0, 1.2, size=n_vert)
        xs = clon + radii * np.cos(angles)
        ys = clat + radii * np.sin(angles)
        ring = np.empty(2 * n_vert)
        ring[0::2] = xs
        ring[1::2] = ys
        rows.append(
            dict(
                poly_id=int(poly_id), name=name_fr, post_code=pc,
                ring_xy=[float(v) for v in ring],
                ring_offsets=[0, 2 * n_vert],
                bbox_minx=float(xs.min()), bbox_miny=float(ys.min()),
                bbox_maxx=float(xs.max()), bbox_maxy=float(ys.max()),
            )
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# world assembly
# ---------------------------------------------------------------------------


def gen_world(
    n_streets: int = 240,
    houses_per_street: int = 8,
    n_pages: int = 800,
    n_per_class: int = 12,
    seed: int = 42,
) -> dict[str, pd.DataFrame]:
    gaz = gen_gazetteer(n_streets, houses_per_street, seed)
    return {
        "gazetteer": gaz,
        "pages": gen_pages(gaz, n_pages, seed + 1),
        "addresses": gen_addresses(gaz, n_per_class, seed + 2),
        "polygons": gen_polygons(gaz, seed + 3),
    }


def write_world(path: str, world: dict[str, pd.DataFrame] | None = None, **kw) -> None:
    """Write the world as parquet files under ``path`` (driver-side; used by
    tests and bench). alt_names maps serialize via pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    world = world or gen_world(**kw)
    import os

    os.makedirs(path, exist_ok=True)
    for name, df in world.items():
        df = df.copy()
        for c in df.columns:  # Spark cannot read TIMESTAMP(NANOS) parquet
            if str(df[c].dtype).startswith("datetime64[ns"):
                df[c] = df[c].astype(str(df[c].dtype).replace("ns", "us"))
        if name == "gazetteer":
            # list<struct<key,value>> so Spark reads map_from_entries-ready
            for mc in ("alt_names", "address"):
                if mc in df.columns:
                    df[mc] = df[mc].map(
                        lambda d: [{"key": k, "value": v} for k, v in d.items()]
                    )
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, f"{path}/{name}.parquet")
