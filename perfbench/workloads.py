# -*- coding: utf-8 -*-
"""The workloads: how each sets up, runs, is traced and is checked.

``run`` is the untraced call through the engine's production entry
point and returns the complete result on the driver, as a dict of
pandas frames. ``traced`` calls the public function of each layer in
turn, materialising between layers (``cache`` + ``count``), each call
inside a span; it returns the same keys as ``run`` plus one per extra
layer it exercises. ``check`` compares every key of a result with the
values known by construction (gen.py) and returns a list of mismatches;
an empty list is a pass.
"""

from __future__ import annotations

import inspect
import os
import shutil
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spans import NullTracer

TILE_COLS = ["addr_key", "url", "method", "place_id", "place_rank", "lat_1e6", "lon_1e6"]
# traced-only spatial calls on crawl_pages: kNN queries (the first street
# places by id), k, the PIP cover resolution and the rollup zooms
KNN_QUERIES = 30
KNN_K = 5
PIP_H3_RES = 7
ROLLUP_LEVELS = [9, 8, 7, 6, 5]
EARTH_KM = 6371.0088  # the engine's haversine radius


def _default(fn, name: str):
    return inspect.signature(fn).parameters[name].default


def gates() -> dict[str, tuple[str, float]]:
    """Size gates measured from outside: metric key -> (gate, threshold).
    Thresholds are the engine's own defaults."""
    from nominatimwrapper_spark.operators import components, geocode, spatial

    bc = _default(geocode.build_gazetteer_index, "broadcast_max_bytes")
    return {
        "gate.gazetteer_bytes": ("gazetteer broadcast", bc),
        "gate.fanback_uniques": ("fan-back broadcast", geocode._FAN_BROADCAST_MAX_UNIQUES),
        # minhash_verified_pairs applies the gazetteer's byte budget to its
        # per-document shingle arrays (a kwargs default, not introspectable)
        "gate.verify_attach_bytes": ("verify-attach broadcast", bc),
        "gate.cc_edges": ("CC driver union-find", _default(components.connected_components,
                                                          "driver_max_edges")),
        "gate.knn_target_bytes": ("kNN target broadcast", _default(spatial.knn_h3,
                                                                  "broadcast_max_bytes")),
    }


def _materialize(df, keep: list):
    """Execute ``df`` once (cache + count); the caller unpersists ``keep``."""
    df = df.cache()
    keep.append(df)
    return df, df.count()


def _round_1e6(v) -> np.ndarray:
    v = np.asarray(v, dtype=np.float64)
    return (np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5)).astype(np.int64)


def _bytes_of(df) -> float:
    from nominatimwrapper_spark.operators.geocode import _avg_row_bytes

    return float(df.count() * _avg_row_bytes(df))


def _index(spark, gaz_path: str, tracer):
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index

    with tracer.span("geocode.build_gazetteer_index") as c:
        index = build_gazetteer_index(spark.read.parquet(gaz_path))
        c["rows_out"] = index.lookup.count()
    return index


def _check_tiles(got: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Every expected (url, pos) address comes back exactly once with the
    house it was drawn from, and nothing else comes back."""
    exp = truth.assign(addr_key=truth.url + "#" + truth.pos.astype(str))
    errs = []
    if got.addr_key.duplicated().any():
        errs.append(f"{int(got.addr_key.duplicated().sum())} duplicate addr_key rows")
    m = exp.merge(got, on="addr_key", how="outer", indicator=True, suffixes=("_exp", ""))
    missing = m[m._merge == "left_only"]
    extra = m[m._merge == "right_only"]
    if len(missing):
        errs.append(f"{len(missing)} expected addresses missing, e.g. {missing.addr_key.iloc[0]}")
    if len(extra):
        errs.append(f"{len(extra)} unexpected rows, e.g. {extra.addr_key.iloc[0]}")
    both = m[m._merge == "both"]
    bad = both[
        (both.method != "orig")
        | (both.place_rank.astype(np.int64) != 30)
        | (both.place_id.astype(np.int64) != both.place_id_exp.astype(np.int64))
        | (both.lat_1e6.astype(np.int64) != _round_1e6(both.lat))
        | (both.lon_1e6.astype(np.int64) != _round_1e6(both.lon))
    ]
    if len(bad):
        r = bad.iloc[0]
        errs.append(f"{len(bad)} wrong geocodes, e.g. {r.addr_key}: {r.method} rank {r.place_rank} "
                    f"place {r.place_id} (expected {r.place_id_exp})")
    return errs


def _ray_cast(px: np.ndarray, py: np.ndarray, ring_xy, ring_offsets) -> np.ndarray:
    """Even-odd rule over every ring of one polygon, vectorised over points."""
    xy = np.asarray(ring_xy, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    offs = list(ring_offsets)
    for a, b in zip(offs[:-1], offs[1:]):
        xs, ys = xy[a:b:2], xy[a + 1:b:2]
        for x1, y1, x2, y2 in zip(xs, ys, np.roll(xs, -1), np.roll(ys, -1)):
            if y1 == y2:
                continue
            straddle = (y1 > py) != (y2 > py)
            inside ^= straddle & (x1 + (py - y1) / (y2 - y1) * (x2 - x1) > px)
    return inside


def _check_pip(got: pd.DataFrame, points: pd.DataFrame, polys: pd.DataFrame) -> list[str]:
    """The join equals a numpy ray cast, and every point lies in exactly
    one polygon (its city's, by construction of synth.gen_polygons)."""
    px, py = points.lon.to_numpy(), points.lat.to_numpy()
    exp = set()
    for p in polys.itertuples():
        exp |= {(k, int(p.poly_id)) for k in points.addr_key[_ray_cast(px, py, p.ring_xy, p.ring_offsets)]}
    have = set(zip(got.addr_key, got.poly_id.astype(int)))
    errs = []
    if have != exp:
        errs.append(f"{len(exp - have)} ray-cast hits missing, {len(have - exp)} extra")
    per_point = Counter(k for k, _ in exp)
    if len(per_point) != len(points) or set(per_point.values()) != {1}:
        errs.append(f"{len(points) - len(per_point)} points in no polygon, "
                    f"{sum(v > 1 for v in per_point.values())} in several")
    return errs


def _haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    h = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_KM * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def _check_knn(got: pd.DataFrame, queries: pd.DataFrame, targets: pd.DataFrame, k: int) -> list[str]:
    """For every query, the k distances returned equal the k smallest of a
    haversine brute force (distances, not ids, so exact ties pass)."""
    errs = []
    d = _haversine_km(queries.lat.to_numpy()[:, None], queries.lon.to_numpy()[:, None],
                      targets.lat.to_numpy()[None, :], targets.lon.to_numpy()[None, :])
    exp = np.sort(d, axis=1)[:, :k]
    by_q = got.groupby("query_id").dist_km.apply(lambda s: np.sort(s.to_numpy()))
    for qid, e in zip(queries.query_id, exp):
        g = by_q.get(qid)
        if g is None or len(g) != k or not np.allclose(g, e, rtol=0, atol=1e-6):
            errs.append(f"query {qid}: distances {None if g is None else np.round(g, 4).tolist()}, "
                        f"brute force {np.round(e, 4).tolist()}")
            break
    if set(got.query_id) - set(queries.query_id):
        errs.append("unknown query_id in output")
    return errs


def _check_rollup(got: pd.DataFrame, n_points: int) -> list[str]:
    sums = got.groupby("zoom").n.sum()
    bad = {int(z): int(sums.get(z, 0)) for z in ROLLUP_LEVELS if sums.get(z, 0) != n_points}
    return [f"rollup counts per zoom {bad}, expected {n_points} each"] if bad else []


class Workload:
    name = ""
    rows = 0  # input rows per run (pages, addresses, documents or points)
    # untimed calls before the timed loop (the JVM's JIT and the Python
    # workers keep getting faster over the first few calls), and the
    # fewest timed calls; few enough that 4 + 22 runs per workload fit
    # the run budget on a contended host
    warmup_calls = 1
    min_iters = 3

    def __init__(self, d: str):
        self.d = d
        self.truth = pd.read_parquet(os.path.join(d, "truth.parquet"))
        self._keep: list = []
        # seconds of the traced spans that mirror the untraced call
        self.mirror_s: float | None = None

    def setup(self, spark, tracer=NullTracer()) -> None:
        raise NotImplementedError

    def run(self, spark) -> dict:
        raise NotImplementedError

    def traced(self, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def detail(self, out: dict) -> dict:
        """Workload-specific end-to-end figures for the run report."""
        return {}

    def layer_counts(self, spark, out: dict) -> dict:
        """Per-layer metrics measured outside the spans (trace mode only),
        by their names in BENCHMARK.json."""
        return {}

    def cleanup(self) -> None:
        for df in self._keep:
            df.unpersist()
        self._keep.clear()


class CrawlPages(Workload):
    """plans.flagship.geocode_and_tile with recrawl dedup, broadcast regime.

    The traced call also runs the layers only the traced run measures:
    the one-stage kernel over the same pages, PIP, kNN and the H3 rollup
    over the geocoded points, and the checkpoint job, its resume and an
    ``availableNow`` stream over a small crawl-date-partitioned page set.
    """

    name = "crawl_pages"

    def setup(self, spark, tracer=NullTracer()):
        self.pages = spark.read.parquet(os.path.join(self.d, "pages"))
        self.rows = self.pages.count()
        self.gaz = os.path.join(self.d, "gazetteer.parquet")
        self.index = _index(spark, self.gaz, tracer)
        self.work = os.path.join(os.getcwd(), ".bench_cache", "work", f"{self.name}-{os.getpid()}")
        crawls = pd.read_parquet(os.path.join(self.d, "pages"), columns=["url", "warc_ts"])
        latest = crawls[crawls.warc_ts == crawls.groupby("url").warc_ts.transform("max")]
        self.latest_truth = self.truth.merge(latest, on=["url", "warc_ts"])

    def run(self, spark):
        from nominatimwrapper_spark.plans.flagship import geocode_and_tile

        return {"tiles": geocode_and_tile(self.pages, self.index, dedup_crawls=True)
                .select(TILE_COLS).toPandas()}

    def traced(self, spark, tracer):
        import time

        t0 = time.perf_counter()
        res, out = self._traced_flagship(tracer)
        self.mirror_s = time.perf_counter() - t0
        out.update(self._traced_kernel(tracer))
        out.update(self._traced_spatial(spark, tracer, res))
        out.update(self._traced_ingest(spark, tracer))
        return out

    def _traced_flagship(self, tracer):
        """The untraced call, one layer at a time."""
        from nominatimwrapper_spark.functions import geo
        from nominatimwrapper_spark.operators.geocode import cascade
        from nominatimwrapper_spark.operators.pages import pages_to_addresses
        from nominatimwrapper_spark.operators.spatial import latest_snapshot

        k = self._keep
        with tracer.span("spatial.latest_snapshot") as c:
            self._snap, c["rows_out"] = _materialize(latest_snapshot(self.pages, "url", "warc_ts"), k)
        with tracer.span("pages.pages_to_addresses") as c:
            self._addrs, c["rows_out"] = _materialize(pages_to_addresses(self._snap, dedup_crawls=False), k)
        with tracer.span("geocode.cascade") as c:
            res, _ = cascade(self._addrs, self.index, with_rejected=False, with_extra_house_number=False)
            res, c["rows_out"] = _materialize(res, k)
        with tracer.span("geo.s2_h3_cells_udf") as c:
            cells = geo.s2_h3_cells_udf(13, 9)(F.col("lat"), F.col("lon"))
            tiled = res.withColumn("_cells", cells).select(
                "addr_key", "url", "method",
                F.col("place_id").cast("long").alias("place_id"),
                F.col("place_rank").cast("long").alias("place_rank"),
                F.col("_cells.s2").alias("cell13"), F.col("_cells.h3").alias("h3_9"),
                F.round(F.col("lat") * 1_000_000).cast("long").alias("lat_1e6"),
                F.round(F.col("lon") * 1_000_000).cast("long").alias("lon_1e6"),
            )
            tiled, c["rows_out"] = _materialize(tiled, k)
            out = tiled.select(TILE_COLS).toPandas()
        return res, {"tiles": out}

    def _traced_kernel(self, tracer):
        from nominatimwrapper_spark.operators.geocode_kernel import geocode_and_tile_kernel

        with tracer.span("geocode_kernel.geocode_and_tile_kernel") as c:
            tiles, c["rows_out"] = _materialize(geocode_and_tile_kernel(self._snap, self.index), self._keep)
            return {"kernel": tiles.select(TILE_COLS).toPandas()}

    def _traced_spatial(self, spark, tracer, res):
        from nominatimwrapper_spark.functions.h3 import h3_cell_col, h3_parent_col
        from nominatimwrapper_spark.operators.spatial import (
            knn_cells,
            knn_h3,
            multi_zoom_rollup,
            point_in_polygon_join,
        )

        k = self._keep
        points = res.select("addr_key", "lat", "lon")
        self._points = points
        self._polys = spark.read.parquet(os.path.join(self.d, "polygons.parquet"))
        gaz = spark.read.parquet(self.gaz)
        self._targets = gaz.filter(F.col("place_rank") == 30).select("place_id", "lat", "lon")
        qpdf = (pd.read_parquet(self.gaz, columns=["place_id", "place_rank", "lat", "lon"])
                .query("place_rank == 26").sort_values("place_id").head(KNN_QUERIES)
                .rename(columns={"place_id": "query_id"})[["query_id", "lat", "lon"]])
        queries = spark.createDataFrame(qpdf)
        out = {"points": points.toPandas(), "queries": qpdf}
        with tracer.span("spatial.point_in_polygon_join") as c:
            pip, c["rows_out"] = _materialize(
                point_in_polygon_join(points, self._polys, cover="h3", h3_res=PIP_H3_RES), k)
            out["pip"] = pip.select("addr_key", "poly_id").toPandas()
        with tracer.span("spatial.multi_zoom_rollup") as c:
            roll, c["rows_out"] = _materialize(multi_zoom_rollup(
                points, h3_cell_col(F.col("lat"), F.col("lon"), ROLLUP_LEVELS[0]), h3_parent_col,
                ROLLUP_LEVELS), k)
            out["rollup"] = roll.toPandas()
        for name, fn in (("knn_h3", knn_h3), ("knn_cells", knn_cells)):
            with tracer.span(f"spatial.{name}") as c:
                knn, c["rows_out"] = _materialize(fn(queries, self._targets, k=KNN_K), k)
                out[name] = knn.select("query_id", "neighbor_id", "dist_km").toPandas()
        return out

    def _traced_ingest(self, spark, tracer):
        """run_job over the first half of the crawl-date partitions, then
        over all of them (a resume), then an availableNow stream over one
        file per date."""
        import time

        from gen import stamp_stream_order
        from nominatimwrapper_spark.jobs.geocode_job import list_crawl_dates, run_job
        from nominatimwrapper_spark.streaming.geocode_stream import geocode_pages_stream

        src = os.path.join(self.d, "ingest", "pages")
        stream_in = os.path.join(self.d, "ingest", "stream_in")
        stamp_stream_order(stream_in)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        job, s_out, s_ck = (os.path.join(self.work, x) for x in ("job", "stream_out", "stream_ck"))
        dates = list_crawl_dates(src)
        out = {"dates": dates}
        with tracer.span("geocode_job.run_job") as c:
            m = run_job(spark, src, self.gaz, job, date_to=dates[len(dates) // 2 - 1])
            c["rows_out"] = sum(v["rows_out"] for v in m.values())
        t1 = time.perf_counter()
        with tracer.span("geocode_job.resume") as c:
            out["manifests"] = run_job(spark, src, self.gaz, job)
            c["rows_out"] = sum(v["rows_out"] for v in out["manifests"].values() if not v.get("resumed"))
        out["resume_s"] = time.perf_counter() - t1
        with tracer.span("geocode_stream.geocode_pages_stream") as c:
            q = geocode_pages_stream(spark, stream_in, self.index, s_out, s_ck)
            q.awaitTermination()
            out["progress"] = q.recentProgress
            c["rows_out"] = sum(p["numInputRows"] for p in out["progress"])
        from nominatimwrapper_spark.sources.checkpoint import PartitionedCheckpointer

        out["job"] = PartitionedCheckpointer(job).read_all(spark).select(TILE_COLS).toPandas()
        out["stream"] = spark.read.parquet(s_out).select(TILE_COLS).toPandas()
        out["output_mb"] = sum(os.path.getsize(os.path.join(r, f))
                               for r, _, fs in os.walk(job) for f in fs) / 1e6
        return out

    def check(self, out):
        errs = _check_tiles(out["tiles"], self.latest_truth)
        if "kernel" in out:
            errs += [f"kernel: {e}" for e in _check_tiles(out["kernel"], self.latest_truth)]
        if "pip" in out:
            polys = pd.read_parquet(os.path.join(self.d, "polygons.parquet"))
            errs += [f"pip: {e}" for e in _check_pip(out["pip"], out["points"], polys)]
            errs += [f"rollup: {e}" for e in _check_rollup(out["rollup"], len(out["points"]))]
            targets = pd.read_parquet(self.gaz, columns=["place_id", "place_rank", "lat", "lon"])
            targets = targets[targets.place_rank == 30]
            for name in ("knn_h3", "knn_cells"):
                errs += [f"{name}: {e}" for e in _check_knn(out[name], out["queries"], targets, KNN_K)]
        if "manifests" in out:
            errs += self._check_ingest(out)
        return errs

    def _check_ingest(self, out) -> list[str]:
        errs = []
        n = len(out["dates"])
        resumed = sum(1 for v in out["manifests"].values() if v.get("resumed"))
        if resumed != n // 2 or len(out["manifests"]) != n:
            errs.append(f"resume: {resumed} of {len(out['manifests'])} partitions resumed, "
                        f"expected {n // 2} of {n}")
        # the job dedups within a partition only: every crawl is kept
        truth = pd.read_parquet(os.path.join(self.d, "ingest", "truth.parquet"))
        t = truth.assign(addr_key=truth.url + "#" + truth.pos.astype(str))
        exp = Counter(zip(t.addr_key, t.place_id.astype(int)))
        got = Counter(zip(out["job"].addr_key, out["job"].place_id.astype(int)))
        if exp != got:
            errs.append(f"job output differs from the per-partition crawls: "
                        f"{sum((exp - got).values())} missing, {sum((got - exp).values())} extra")
        # stream files arrive in date order, so a url's first arrival is its
        # earliest crawl (which may carry no address at all)
        crawls = pd.read_parquet(os.path.join(self.d, "ingest", "pages"), columns=["url", "warc_ts"])
        first = crawls[crawls.warc_ts == crawls.groupby("url").warc_ts.transform("min")]
        errs += [f"stream: {e}" for e in _check_tiles(out["stream"], truth.merge(first))]
        return errs

    def layer_counts(self, spark, out):
        """unique_frac, match counts, PIP candidates, job and stream
        counts, and the gates' measured sizes, from outside the spans."""
        from nominatimwrapper_spark.functions.h3 import h3_cell_col
        from nominatimwrapper_spark.operators.geocode import compose_address_col
        from nominatimwrapper_spark.operators.spatial import _h3_cover_udf

        comp = compose_address_col(F.col("street"), F.col("housenbr"), F.col("postcode"),
                                   F.col("city"), F.col("country"))
        row = self._addrs.select(F.count(F.lit(1)).alias("n"), F.countDistinct(comp).alias("u")).first()
        # the PIP's cover join before its ray cast: (point cell = polygon
        # cover cell) within the polygon's bbox
        cover = self._polys.select(
            F.explode(_h3_cover_udf(PIP_H3_RES)(F.col("ring_xy"), F.col("ring_offsets"))).alias("cell"),
            "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy")
        cand = (self._points.withColumn("cell", h3_cell_col(F.col("lat"), F.col("lon"), PIP_H3_RES))
                .join(cover, "cell")
                .filter(F.col("lon").between(F.col("bbox_minx"), F.col("bbox_maxx"))
                        & F.col("lat").between(F.col("bbox_miny"), F.col("bbox_maxy")))
                .count())
        trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in out["progress"]]
        state = [(p.get("stateOperators") or [{}])[0] for p in out["progress"]]
        return {
            "gate.gazetteer_bytes": _bytes_of(self.index.lookup),
            "gate.fanback_uniques": float(row["u"]),
            "gate.knn_target_bytes": _bytes_of(self._targets),
            "geocode.cascade.unique_frac": row["u"] / max(row["n"], 1),
            "geocode.cascade.match.orig": float((out["tiles"].method == "orig").sum()),
            "spatial.point_in_polygon_join.candidates_per_point": cand / max(len(out["points"]), 1),
            "geocode_job.output_mb": out["output_mb"],
            "geocode_job.partitions_resumed": sum(1 for v in out["manifests"].values() if v.get("resumed")),
            "geocode_stream.microbatch_median_s": float(np.median(trig)),
            "geocode_stream.microbatch_max_s": float(max(trig)),
            "geocode_stream.state_rows": state[-1].get("numRowsTotal", 0) if state else 0,
            "geocode_stream.dropped_duplicates": sum(
                (s.get("customMetrics") or {}).get("numDroppedDuplicateRows", 0) for s in state),
        }

    def cleanup(self):
        super().cleanup()
        shutil.rmtree(self.work, ignore_errors=True)


class NearDupClosure(Workload):
    """operators.dedup.minhash_dedup over a corpus with planted clusters
    and decoys."""

    name = "near_dup_closure"
    # a call is short, and its CPU keeps falling over the first calls
    warmup_calls = 3
    min_iters = 4

    def setup(self, spark, tracer=NullTracer()):
        n = spark.sparkContext.defaultParallelism
        self.docs = spark.read.parquet(os.path.join(self.d, "docs")).repartition(n, "doc_id").cache()
        self.rows = self.docs.count()

    def run(self, spark):
        from nominatimwrapper_spark.operators.dedup import minhash_dedup

        return {"kept": minhash_dedup(self.docs, "doc_id", "text").select("doc_id").toPandas()}

    def traced(self, spark, tracer):
        import time

        from nominatimwrapper_spark.operators.components import connected_components
        from nominatimwrapper_spark.operators.dedup import (
            hashed_shingles,
            minhash_lsh_candidates,
            minhash_verified_pairs,
        )

        t0 = time.perf_counter()
        k = self._keep
        with tracer.span("dedup.hashed_shingles") as c:
            hs, c["rows_out"] = _materialize(hashed_shingles(self.docs, "doc_id", "text"), k)
        with tracer.span("dedup.minhash_lsh_candidates") as c:
            _, c["rows_out"] = _materialize(minhash_lsh_candidates(self.docs, "doc_id", "text"), k)
        with tracer.span("dedup.minhash_verified_pairs") as c:
            verified, c["rows_out"] = _materialize(minhash_verified_pairs(self.docs, "doc_id", "text"), k)
        with tracer.span("components.connected_components") as c:
            comp, c["rows_out"] = _materialize(connected_components(verified, "id_a", "id_b"), k)
        # the keep-component-minimum anti join that closes minhash_dedup
        with tracer.span("dedup.keep_survivors"):
            drop = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias("doc_id"))
            out = self.docs.join(drop, on="doc_id", how="left_anti").select("doc_id").toPandas()
        self.mirror_s = time.perf_counter() - t0
        st = hs.agg(F.count(F.lit(1)).alias("n"), F.avg(F.size("_hsh")).alias("w")).first()
        self._gates = {"gate.verify_attach_bytes": float((st["n"] or 0) * (float(st["w"] or 0) * 8 + 32)),
                       "gate.cc_edges": float(verified.count())}
        return {"kept": out}

    def _removed(self, out) -> set:
        return set(self.truth.doc_id) - set(out["kept"].doc_id)

    def check(self, out):
        """Only planted copies are removed (so no root and no decoy), and
        every planted copy is removed (dup_recall is 1 by construction:
        see gen.COPY_MIN)."""
        removed = self._removed(out)
        roles = self.truth.set_index("doc_id").role
        errs = []
        wrong = sorted(d for d in removed if roles.get(d) != "copy")
        if wrong:
            kinds = Counter(roles.get(d) for d in wrong)
            errs.append(f"{len(wrong)} documents outside planted copies removed ({dict(kinds)}), "
                        f"e.g. {wrong[0]}")
        recall = self.detail(out)["dup_recall"]
        if recall < 1.0:
            errs.append(f"dup_recall {recall:.4f}: planted copies kept, expected all removed")
        if set(out["kept"].doc_id) - set(self.truth.doc_id):
            errs.append("unknown doc_id in output")
        return errs

    def detail(self, out):
        copies = set(self.truth.doc_id[self.truth.role == "copy"])
        return {"dup_recall": len(self._removed(out) & copies) / max(len(copies), 1)}

    def layer_counts(self, spark, out):
        return {**self._gates, "dedup.dup_recall": self.detail(out)["dup_recall"]}


WORKLOADS = {w.name: w for w in (CrawlPages, NearDupClosure)}
