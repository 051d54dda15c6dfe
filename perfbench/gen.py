# -*- coding: utf-8 -*-
"""Seeded input generators, one per workload.

Every generator is a pure function of (seed, size): the same arguments
write the same files. Inputs are written once per (workload, seed, size)
under ``.bench_cache/inputs/`` in the checkout and reused by later runs;
generation is never inside a timed window or inside ``setup_s``.

Each generator also writes ``truth.parquet``: the values the program's
output must equal, known by construction (see workloads.py).

Run standalone to (re)generate one workload's inputs:

    python3 perfbench/gen.py --workload crawl_pages --seed 1
"""

from __future__ import annotations

import argparse
import datetime as dt
import functools
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes, fixed per workload (BENCHMARK.json states them)
SIZES = {
    "crawl_pages": {"pages": 600, "n_streets": 120, "houses_per_street": 6,
                    "ingest_partitions": 4, "ingest_pages_per_partition": 40},
    "near_dup_closure": {"base_docs": 2000, "clusters": 100, "decoys": 100},
}

BASE_TS = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
_LANGS = ["fr", "nl", "en"]
# share of injected addresses that are the one hot footer address
HOT_FRAC = 0.30
RECRAWL_FRAC = 0.08


def cache_root() -> str:
    return os.path.join(os.getcwd(), ".bench_cache")


def input_dir(workload: str, seed: int) -> str:
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(cache_root(), "inputs", f"{workload}-s{seed}-{tag}")


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _vocab(n: int = 6000) -> np.ndarray:
    """Fixed lowercase pseudo-word vocabulary. Lowercase on purpose: the
    engine's address regex needs a capitalised street, so prose never
    yields a spurious address."""
    rng = np.random.default_rng(7)
    syl = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + ["en", "er", "ou"])
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(syl, size=k)))
    return np.array(sorted(words))


@functools.lru_cache(maxsize=1)
def vocab() -> np.ndarray:
    return _vocab()


def prose(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(vocab()[rng.integers(0, len(vocab()), size=n_words)])


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _write_split(df: pd.DataFrame, d: str, n_files: int = 8) -> None:
    """A table as ``n_files`` parquet files, so a scan has that many splits."""
    os.makedirs(d)
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        _write(df.iloc[part], os.path.join(d, f"part-{k:05d}.parquet"))


def _world(seed: int, n_streets: int, houses_per_street: int) -> pd.DataFrame:
    from nominatimwrapper_spark.synth import gen_gazetteer

    return gen_gazetteer(n_streets, houses_per_street, seed=seed)


def _write_world(gaz: pd.DataFrame, d: str, seed: int) -> None:
    """The gazetteer and the city polygons (each contains every house of
    its city and no other city's houses, by construction)."""
    from nominatimwrapper_spark.synth import gen_polygons, write_world

    write_world(d, {"gazetteer": gaz, "polygons": gen_polygons(gaz, seed=seed)})


class Houses:
    """The world's houses as plain records, with a Zipf-skewed picker in
    which HOT_FRAC of all draws are one hot footer house."""

    def __init__(self, rng: np.random.Generator, gaz: pd.DataFrame):
        self.rng = rng
        self.rec = list(gaz[gaz.place_rank == 30].itertuples())
        n = len(self.rec)
        self.order = rng.permutation(n)
        w = 1.0 / np.arange(1, n + 1) ** 1.1
        self.w = w / w.sum()

    def pick(self, k: int) -> list:
        z = self.order[self.rng.choice(len(self.rec), size=k, p=self.w)]
        idx = np.where(self.rng.random(k) < HOT_FRAC, self.order[0], z)
        return [self.rec[i] for i in idx]


def _page(rng, houses: list, i: int, url: str, ts, lang: str, tag: str = ""):
    """One page embedding ``houses`` as address lines (the last one in the
    footer), and its truth rows: one per (url, warc_ts, pos)."""
    from nominatimwrapper_spark.functions.text import extract_text

    lines = [
        f"{h.name_nl if (lang == 'nl' and h.name_nl) else h.name_fr} "
        f"{h.house_number}, {h.post_code} {h.city}"
        for h in houses
    ]
    addr = "".join(f"<p>Adresse: {ln}</p>" for ln in lines[:-1])
    footer = f"<footer><p>Adresse: {lines[-1]}</p></footer>" if lines else ""
    body = (
        f"<p>{prose(rng, 90)}</p>{addr}<p>{prose(rng, 70)}</p>"
        f"<p>t&eacute;l: 02/{int(rng.integers(100, 999))}.{int(rng.integers(10, 99))}</p>"
        f"{footer}{tag}"
    )
    html = (
        f"<html><head><title>Page {i} ({lang})</title><style>p{{margin:0}}</style>"
        f"<script>var x = '<p>decoy</p>';</script></head>"
        f"<body><!-- c{i} --><nav>menu &amp; liens</nav>{body}</body></html>"
    ).encode("utf-8")
    truth = [dict(url=url, warc_ts=ts, pos=pos, place_id=int(h.place_id), lat=float(h.lat),
                  lon=float(h.lon)) for pos, h in enumerate(houses)]
    return dict(url=url, warc_ts=ts, html=html, text=extract_text(html), lang=lang), truth


def _crawl(rng, houses: Houses, n_pages: int, ts_of, url_prefix: str = ""):
    """Pages with 0-3 injected addresses each. Returns (pages, truth)."""
    n_addr = rng.choice(4, size=n_pages, p=[0.25, 0.45, 0.2, 0.1])
    langs = rng.integers(0, 3, size=n_pages)
    pages, truth = [], []
    for i in range(n_pages):
        url = f"https://site-{i % 97}.example.be/{url_prefix}page-{i}.html"
        p, t = _page(rng, houses.pick(int(n_addr[i])), i, url, ts_of(i), _LANGS[langs[i]])
        pages.append(p)
        truth.extend(t)
    return pages, truth


def _recrawl(rng, houses: Houses, src: dict, i: int, new_ts):
    """A later crawl of ``src['url']`` with freshly drawn addresses, so only
    a dedup that keeps the right crawl passes the output check."""
    return _page(rng, houses.pick(int(rng.integers(1, 4))), i, src["url"], new_ts, src["lang"],
                 tag="<p>recrawl</p>")


def _pages_df(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).astype("datetime64[us, UTC]")
    return df


def _truth_df(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "pos", "place_id", "lat", "lon"])
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).astype("datetime64[us, UTC]")
    return df


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def gen_crawl_pages(seed: int, d: str) -> dict:
    """The page table, plus (for the traced run only) the world's city
    polygons and a small crawl-date-partitioned page set for the
    checkpoint job and the stream."""
    sz = SIZES["crawl_pages"]
    rng = np.random.default_rng(seed)
    gaz = _world(seed, sz["n_streets"], sz["houses_per_street"])
    houses = Houses(rng, gaz)
    n = sz["pages"]
    minutes = rng.integers(0, 60 * 24 * 30, size=n)
    pages, truth = _crawl(rng, houses, n, lambda i: BASE_TS + dt.timedelta(minutes=int(minutes[i])))
    for k, j in enumerate(rng.choice(n, size=int(n * RECRAWL_FRAC), replace=False)):
        p, t = _recrawl(rng, houses, pages[j], n + k, pages[j]["warc_ts"] + dt.timedelta(days=35))
        pages.append(p)
        truth.extend(t)
    _write_world(gaz, d, seed)
    _write_split(_pages_df(pages), os.path.join(d, "pages"))
    _write(_truth_df(truth), os.path.join(d, "truth.parquet"))
    ingest = _gen_ingest(rng, houses, sz["ingest_partitions"], sz["ingest_pages_per_partition"],
                         os.path.join(d, "ingest"))
    return {"rows": len(pages), "unique_urls": n, "ingest_rows": ingest}


def stamp_stream_order(stream_dir: str) -> None:
    """Give the stream files increasing mtimes in name (= date) order: the
    file source delivers files oldest first, so this fixes which crawl of
    a url arrives first. A copy of the files may not keep the mtimes."""
    t0 = 1_700_000_000
    for k, f in enumerate(sorted(os.listdir(stream_dir))):
        os.utime(os.path.join(stream_dir, f), (t0 + 10 * k, t0 + 10 * k))


def _gen_ingest(rng, houses: Houses, n_parts: int, per: int, d: str) -> int:
    """Pages over ``n_parts`` crawl dates, laid out as
    ``crawl_date=YYYY-MM-DD/`` partitions (the layout
    sources.pages_io.write_pages_partitioned writes), with recrawls of
    earlier urls in later partitions; the same pages also as one stream
    file per date, with increasing mtimes (the file source's order).
    Returns the number of pages."""
    n_new = int(per * (1 - RECRAWL_FRAC * 2))
    pages, truth = [], []
    for p in range(n_parts):
        day = BASE_TS + dt.timedelta(days=p)
        minutes = rng.integers(0, 60 * 24, size=per)
        new_p, new_t = _crawl(rng, houses, n_new, lambda i: day + dt.timedelta(minutes=int(minutes[i])),
                              f"d{p}-")
        older = [q for q in pages if q["warc_ts"] < day]
        for k in range(per - n_new if older else 0):
            src = older[int(rng.integers(0, len(older)))]
            rp, rt = _recrawl(rng, houses, src, n_new + k,
                              day + dt.timedelta(minutes=int(minutes[n_new + k])))
            new_p.append(rp)
            new_t.extend(rt)
        pages.extend(new_p)
        truth.extend(new_t)
    df = _pages_df(pages)
    # one crawl per (url, day): the job dedups within a partition, so a
    # second same-day crawl would make its expected output ambiguous
    df["crawl_date"] = df["warc_ts"].dt.strftime("%Y-%m-%d")
    df = df.drop_duplicates(["url", "crawl_date"], keep="first")
    stream = os.path.join(d, "stream_in")
    os.makedirs(stream)
    for k, (date, part) in enumerate(sorted(df.groupby("crawl_date"))):
        pdir = os.path.join(d, "pages", f"crawl_date={date}")
        os.makedirs(pdir)
        body = part.drop(columns=["crawl_date"])
        _write(body, os.path.join(pdir, "part-00000.parquet"))
        _write(body, os.path.join(stream, f"{k:03d}.parquet"))
    stamp_stream_order(stream)
    _write(_truth_df(truth).merge(df[["url", "warc_ts"]], on=["url", "warc_ts"]),
           os.path.join(d, "truth.parquet"))
    return len(df)


def _shingles(words: list[str], n: int = 3) -> set[str]:
    return {" ".join(words[i:i + n]) for i in range(max(1, len(words) - n + 1))}


# planted copies sit at 3-shingle Jaccard >= COPY_MIN to their root. With
# minhash_dedup's LSH (32 hashes in 8 bands of 4 rows) a pair at Jaccard s
# is a candidate with probability 1 - (1 - s^4)^8: at 0.95 a copy is missed
# with probability about 1.4e-6, so every copy is removed by construction.
COPY_MIN = 0.95
# decoys sit at Jaccard DECOY_RANGE to their source document: LSH pairs
# most of them (0.6 -> 67%, 0.7 -> 89%), and the 0.8 verify threshold must
# reject every one
DECOY_RANGE = (0.55, 0.72)


def _edited(rng, words: list[str], ref: set[str], n_edits, lo: float, hi: float) -> list[str]:
    """A copy of ``words`` with ``n_edits()`` random token replacements,
    redrawn until its 3-shingle Jaccard to ``ref`` is within [lo, hi]."""
    while True:
        w = list(words)
        for _e in range(n_edits()):
            w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab()))
        a = _shingles(w)
        if lo <= len(a & ref) / len(a | ref) <= hi:
            return w


def gen_near_dup_closure(seed: int, d: str) -> dict:
    """Base documents of random prose (pairwise dissimilar, checked below),
    plus planted clusters: a root and 1-3 copies with a few token edits,
    each at 3-shingle Jaccard >= COPY_MIN to its root; plus decoys: edits
    of other base documents at Jaccard within DECOY_RANGE, which must
    survive. Copies and decoys get ids above every base id, so each
    cluster's root is its minimum id."""
    sz = SIZES["near_dup_closure"]
    rng = np.random.default_rng(seed)
    n = sz["base_docs"]
    base = [prose(rng, int(rng.integers(120, 200))).split() for _ in range(n)]

    # pairwise-dissimilar check: every shared 3-shingle between two base
    # documents is counted; no pair may come near the verify threshold
    owner: dict[str, int] = {}
    shared: dict[tuple[int, int], int] = {}
    sh = [_shingles(w) for w in base]
    for i, s in enumerate(sh):
        for g in s:
            j = owner.setdefault(g, i)
            if j != i:
                shared[(j, i)] = shared.get((j, i), 0) + 1
    worst = max((c / min(len(sh[a]), len(sh[b])) for (a, b), c in shared.items()), default=0.0)
    if worst >= 0.2:
        raise ValueError(f"base documents too similar: {worst:.3f}")

    docs = [dict(doc_id=i, text=" ".join(w)) for i, w in enumerate(base)]
    truth = [dict(doc_id=i, role="base", root_id=-1) for i in range(n)]
    picked = rng.choice(n, size=sz["clusters"] + sz["decoys"], replace=False)
    roots, sources = picked[:sz["clusters"]], picked[sz["clusters"]:]
    next_id = n

    def add(words, role, src):
        nonlocal next_id
        docs.append(dict(doc_id=next_id, text=" ".join(words)))
        truth.append(dict(doc_id=next_id, role=role, root_id=int(src)))
        next_id += 1

    for r in roots:
        truth[r]["role"] = "root"
        truth[r]["root_id"] = int(r)
        for _ in range(int(rng.integers(1, 4))):
            add(_edited(rng, base[r], sh[r], lambda: int(rng.integers(1, 3)), COPY_MIN, 1.0), "copy", r)
    for s_ in sources:
        add(_edited(rng, base[s_], sh[s_], lambda: int(rng.integers(8, 16)), *DECOY_RANGE), "decoy", s_)
    _write_split(pd.DataFrame(docs), os.path.join(d, "docs"))
    _write(pd.DataFrame(truth), os.path.join(d, "truth.parquet"))
    return {"rows": len(docs), "max_base_overlap": round(worst, 4)}


GENERATORS = {
    "crawl_pages": gen_crawl_pages,
    "near_dup_closure": gen_near_dup_closure,
}


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate the workload's inputs unless they are already cached;
    returns (directory, generation info). Generation runs in a child
    process, so the memory it leaves resident never counts in the
    caller's peak RSS, whether the inputs were cached or not."""
    d = input_dir(workload, seed)
    done = os.path.join(d, "_DONE.json")
    if not os.path.exists(done):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", workload,
                        "--seed", str(seed)], check=True, stdout=sys.stderr)
    with open(done) as f:
        return d, json.load(f)


def generate(workload: str, seed: int) -> str:
    """Write the workload's inputs in this process unless they are
    already cached; returns the directory."""
    d = input_dir(workload, seed)
    if not os.path.exists(os.path.join(d, "_DONE.json")):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "_DONE.json"), "w") as f:
            json.dump(info, f)
        os.rename(tmp, d)
    return d


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    ap = argparse.ArgumentParser(description="generate one workload's inputs")
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(generate(a.workload, a.seed))
