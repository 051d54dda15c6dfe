# -*- coding: utf-8 -*-
"""Checkpoint/resume, streaming, dedup."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nominatimwrapper_spark.operators.dedup import (
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from nominatimwrapper_spark.sources.checkpoint import PartitionedCheckpointer

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# checkpoint / resume
# ---------------------------------------------------------------------------


def test_checkpoint_resume_no_recompute(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    calls = []

    def compute(part):
        calls.append(part)
        return spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == part
        )

    ck = PartitionedCheckpointer(out)
    parts = ["1-URGENT", "2-HIGH"]
    m1 = ck.run(parts, compute, input_fingerprint=lambda p: "v1")
    assert calls == parts
    assert all(not m["resumed"] for m in m1.values())

    # simulated crash before the third partition; rerun with one more part
    mtime_before = os.path.getmtime(os.path.join(out, "part=1-URGENT", "_manifest.json"))
    m2 = ck.run(parts + ["3-MEDIUM"], compute, input_fingerprint=lambda p: "v1")
    assert calls == parts + ["3-MEDIUM"]  # first two NOT recomputed
    assert m2["1-URGENT"]["resumed"] and m2["2-HIGH"]["resumed"]
    assert os.path.getmtime(os.path.join(out, "part=1-URGENT", "_manifest.json")) == mtime_before

    # fingerprint change invalidates exactly that partition
    ck.run(["1-URGENT"], compute, input_fingerprint=lambda p: "v2")
    assert calls.count("1-URGENT") == 2

    total = ck.read_all(spark)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    expect = orders.filter(
        F.col("o_orderpriority").isin(["1-URGENT", "2-HIGH", "3-MEDIUM"])
    ).count()
    assert total.count() == expect
    assert "checkpoint_part" in total.columns


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def test_streaming_geocode_matches_batch_and_resumes(spark, tmp_path):
    """Streaming flagship (direct kernel plan under the broadcast gate):
    stream output == batch output on the same pages, and a RESTARTED
    query with the same checkpointLocation only processes files that
    arrived after the last committed micro-batch (exactly-once resume,
    no re-geocoding)."""
    import glob
    import shutil

    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        pages_from_documents,
    )
    from nominatimwrapper_spark.streaming.geocode_stream import (
        geocode_micro_batch,
        geocode_pages_stream,
    )

    sf001 = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf001).localCheckpoint(eager=True)
    half_a = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    half_b = pages.filter(F.crc32(F.col("url")) % 2 == 1)
    index = gazetteer_index(spark)

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def _drop_file(df, name):
        d = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(d)
        src = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(src, str(in_dir / f"{name}.parquet"))
        shutil.rmtree(d)

    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    _drop_file(half_a, "000")
    q = geocode_pages_stream(spark, str(in_dir), index, out_dir, ck)
    q.awaitTermination()
    got1 = spark.read.parquet(out_dir).toPandas()
    exp1 = geocode_micro_batch(half_a, index).toPandas()
    key = ["addr_key", "method", "place_id", "cell13"]
    pd.testing.assert_frame_equal(
        got1[key].sort_values("addr_key").reset_index(drop=True),
        exp1[key].sort_values("addr_key").reset_index(drop=True),
    )

    # second wave arrives; restart from the same checkpoint
    _drop_file(half_b, "001")
    q2 = geocode_pages_stream(spark, str(in_dir), index, out_dir, ck)
    q2.awaitTermination()
    got2 = spark.read.parquet(out_dir).toPandas()
    # every address geocoded exactly once: wave-1 rows were NOT reprocessed
    assert got2["addr_key"].is_unique
    exp_all = geocode_micro_batch(pages, index).toPandas()
    pd.testing.assert_frame_equal(
        got2[key].sort_values("addr_key").reset_index(drop=True),
        exp_all[key].sort_values("addr_key").reset_index(drop=True),
    )


def test_streaming_foreach_batch_regime_matches_kernel(spark, tmp_path):
    """Above the broadcast gate the stream runs the cascade once per
    micro-batch through foreachBatch. One file of 60 pages: the rows
    equal geocode_micro_batch on the broadcast index (the kernel route),
    and each carries the epoch that wrote it."""
    import glob
    import shutil

    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        pages_from_documents,
    )
    from nominatimwrapper_spark.streaming.geocode_stream import (
        geocode_micro_batch,
        geocode_pages_stream,
    )

    pages = (
        pages_from_documents(spark, os.path.join(os.path.dirname(SF), "sf0.001"))
        .orderBy("url").limit(60).localCheckpoint(eager=True)
    )
    index = gazetteer_index(spark, force_no_broadcast=True)
    assert not index.broadcast_ok

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    stage = str(tmp_path / "_stage")
    pages.coalesce(1).write.parquet(stage)
    shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], str(in_dir / "000.parquet"))

    out_dir = str(tmp_path / "out")
    q = geocode_pages_stream(spark, str(in_dir), index, out_dir, str(tmp_path / "ck"))
    q.awaitTermination()
    got = spark.read.parquet(out_dir).toPandas()
    exp = geocode_micro_batch(pages, gazetteer_index(spark)).toPandas()
    key = ["addr_key", "method", "place_id", "cell13"]
    assert len(exp) > 0
    pd.testing.assert_frame_equal(
        got[key].sort_values("addr_key").reset_index(drop=True),
        exp[key].sort_values("addr_key").reset_index(drop=True),
    )
    assert got["epoch"].tolist() == [0] * len(got)


def test_geocode_job_cli_direct_file_launch(spark, tmp_path):
    """The launcher must work when the FILE is executed directly with no
    package context — exactly how `spark-submit path/to/geocode_job.py`
    runs it (round-2 review: the old relative imports died there). Runs
    the real CLI end-to-end in a subprocess on a one-partition world."""
    import json
    import os
    import subprocess
    import sys

    from nominatimwrapper_spark.plans.flagship import (
        pages_from_documents,
        world_dir,
    )
    from nominatimwrapper_spark.sources.pages_io import write_pages_partitioned

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(60)
    pages_dir = str(tmp_path / "pages")
    write_pages_partitioned(pages, pages_dir)
    out = str(tmp_path / "out")

    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(__file__), "..",
                         "nominatimwrapper_spark", "jobs", "geocode_job.py"),
            "--pages", pages_dir,
            "--gazetteer", f"{world_dir()}/gazetteer.parquet",
            "--out", out,
        ],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "partitions computed=1" in proc.stdout
    parts = [d for d in os.listdir(out) if d.startswith("part=")]
    assert len(parts) == 1
    man = json.load(open(os.path.join(out, parts[0], "_manifest.json")))
    assert man["rows_out"] > 0


def test_geocode_job_partitioned_resume(spark, tmp_path):
    """The spark-submit job shape: per-crawl-date partitions through the
    S7 checkpointer. Run -> all computed; rerun -> all resumed (zero
    recomputation); a lost manifest -> exactly that partition recomputed."""
    import os

    from nominatimwrapper_spark.jobs.geocode_job import run_job
    from nominatimwrapper_spark.plans.flagship import (
        pages_from_documents,
        world_dir,
    )
    from nominatimwrapper_spark.sources.pages_io import write_pages_partitioned

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    # spread across two crawl dates
    pages = pages.withColumn(
        "warc_ts",
        F.when(F.crc32("url") % 2 == 0, F.col("warc_ts")).otherwise(
            F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
        ),
    )
    pages_dir = str(tmp_path / "pages")
    write_pages_partitioned(pages, pages_dir)
    gaz = f"{world_dir()}/gazetteer.parquet"
    out = str(tmp_path / "out")

    m1 = run_job(spark, pages_dir, gaz, out)
    assert len(m1) == 2 and all(not m["resumed"] for m in m1.values())
    assert sum(m["rows_out"] for m in m1.values()) == pages.count()
    assert all(m["stats"]["methods"].get("orig", 0) > 0 for m in m1.values())

    m2 = run_job(spark, pages_dir, gaz, out)
    assert all(m["resumed"] for m in m2.values())

    # lose one partition's manifest (simulated mid-job kill)
    victim = sorted(m1)[0]
    os.remove(os.path.join(out, f"part={victim}", "_manifest.json"))
    m3 = run_job(spark, pages_dir, gaz, out)
    assert not m3[victim]["resumed"]
    assert all(m["resumed"] for p, m in m3.items() if p != victim)
    assert m3[victim]["rows_out"] == m1[victim]["rows_out"]


def first_seen_batch(df: DataFrame, key: str = "url", order: str = "warc_ts") -> DataFrame:
    """Batch twin: earliest row per key (ties -> arbitrary but stable via
    the order column only, matching the stream's arrival-order semantics
    when the input files are ordered)."""
    w = Window.partitionBy(key).orderBy(F.col(order).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def test_streaming_flagship_with_recrawl_dedup(spark, tmp_path):
    """The COMPOSED streaming flagship: stateful first-seen dedup wired
    upstream of the per-micro-batch cascade. Urls recrawled across
    micro-batches are geocoded exactly once, and the stream's total
    output equals the batch lifecycle (first-seen dedup + cascade) on the
    union of all arrivals."""
    import glob
    import shutil

    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        pages_from_documents,
    )
    from nominatimwrapper_spark.streaming.geocode_stream import (
        geocode_micro_batch,
        geocode_pages_stream,
    )

    sf001 = "/root/testdata/sf0.001"
    pages = pages_from_documents(spark, sf001).localCheckpoint(eager=True)
    wave1 = pages.filter(F.crc32(F.col("url")) % 3 <= 1)  # ~2/3 of urls
    # wave 2 = the remaining third PLUS a recrawl of half of wave 1
    # (same url+content, later warc_ts)
    recrawl = pages.filter(F.crc32(F.col("url")) % 3 == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 7 DAYS")
    )
    wave2 = pages.filter(F.crc32(F.col("url")) % 3 == 2).unionByName(recrawl)

    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def _drop_file(df, name):
        d = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(d)
        src = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(src, str(in_dir / f"{name}.parquet"))
        shutil.rmtree(d)

    _drop_file(wave1, "000")
    _drop_file(wave2, "001")
    out_dir = str(tmp_path / "out")
    q = geocode_pages_stream(
        spark, str(in_dir), gazetteer_index(spark), out_dir,
        str(tmp_path / "ck"), dedup_recrawls=True,
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir).toPandas()

    # recrawled urls were NOT geocoded twice
    assert got["addr_key"].is_unique

    # == batch lifecycle: first-seen dedup over ALL arrivals + cascade
    all_arrivals = wave1.unionByName(wave2)
    exp = geocode_micro_batch(
        first_seen_batch(all_arrivals, key="url", order="warc_ts"),
        gazetteer_index(spark),
    ).toPandas()
    key = ["addr_key", "method", "place_id", "cell13", "h3_9"]
    pd.testing.assert_frame_equal(
        got[key].sort_values("addr_key").reset_index(drop=True),
        exp[key].sort_values("addr_key").reset_index(drop=True),
    )


def test_streaming_live_tail_watermarked_dedup(spark, tmp_path):
    """Continuous (available_now=False) mode on the direct kernel plan:
    dropDuplicatesWithinWatermark state + mapInPandas kernel + file sink
    in one running query. A file dropped WHILE the query runs — carrying
    both new urls and a recrawl of wave 1 — is picked up, the recrawls
    are dropped by cross-micro-batch state, and stopping the query leaves
    a committed, readable output with exactly one row per address."""
    import glob
    import shutil
    import time

    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        pages_from_documents,
    )
    from nominatimwrapper_spark.streaming.geocode_stream import (
        geocode_pages_stream,
    )

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").localCheckpoint(
        eager=True
    )
    n_addrs = pages.count()  # one injected address per page at sf0.001
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def _drop_file(df, name):
        d = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.parquet(d)
        src = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.move(src, str(in_dir / f"{name}.parquet"))
        shutil.rmtree(d)

    wave1 = pages.filter(F.crc32(F.col("url")) % 2 == 0)
    _drop_file(wave1, "000")
    out_dir = str(tmp_path / "out")
    q = geocode_pages_stream(
        spark, str(in_dir), gazetteer_index(spark), out_dir,
        str(tmp_path / "ck"), available_now=False,
    )
    try:
        # live arrival: the other half + a recrawl of wave 1, 1h later
        recrawl = wave1.withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")
        )
        _drop_file(
            pages.filter(F.crc32(F.col("url")) % 2 == 1).unionByName(recrawl),
            "001",
        )
        deadline = time.time() + 120
        n = 0
        while time.time() < deadline and n < n_addrs:
            try:
                n = spark.read.parquet(out_dir).count()
            except Exception:
                n = 0
            time.sleep(1)
    finally:
        q.stop()
    out = spark.read.parquet(out_dir).toPandas()
    assert len(out) == n_addrs
    assert out["addr_key"].is_unique


# ---------------------------------------------------------------------------
# dedup: minhash recall on true near-dups
# ---------------------------------------------------------------------------


def test_minhash_finds_planted_near_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    # plant near-duplicates: copy each doc with one appended token
    dups = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    all_docs = docs.select("doc_id", "text").unionByName(dups)
    cand = minhash_lsh_candidates(all_docs, num_hashes=32, bands=8).toPandas()
    planted = set(zip(range(0, 100), range(1_000_000, 1_000_100)))
    found = set(zip(cand.id_a, cand.id_b))
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"LSH recall {recall}"

    kept = minhash_dedup(all_docs, jaccard_threshold=0.5)
    # every planted dup (higher id) must be dropped when its jaccard >= 0.5
    ver = ngram_jaccard_pairs(
        all_docs.withColumn("doc_id", F.when(F.col("doc_id") >= 1_000_000, F.col("doc_id")).otherwise(F.col("doc_id")))
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert all(i in kept_ids for i in range(0, 100))  # originals kept
    dropped = [i for i in range(1_000_000, 1_000_100) if i not in kept_ids]
    assert len(dropped) >= 90  # near-identical copies overwhelmingly dropped


def test_minhash_verified_broadcast_equals_shuffle_path(spark):
    """The r6 verify rewrite byte-gates a broadcast of the hashed-shingle
    table with a shuffle-hash fallback: both physical paths must produce
    the identical verified edge set (and match the previous per-pair
    array_union jaccard on planted near-dups)."""
    from nominatimwrapper_spark.operators.dedup import minhash_verified_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    dups = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    all_docs = docs.select("doc_id", "text").unionByName(dups)
    kw = dict(num_hashes=32, bands=8)
    bc = (
        minhash_verified_pairs(all_docs, jaccard_threshold=0.5, **kw)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    sh = (
        minhash_verified_pairs(
            all_docs, jaccard_threshold=0.5, broadcast_max_bytes=0, **kw
        )
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert len(bc) > 0
    pd.testing.assert_frame_equal(bc, sh)
    # jaccard parity with the two-pass array_union form on a spot pair
    row = bc.iloc[0]
    pair = all_docs.filter(F.col("doc_id").isin(int(row.id_a), int(row.id_b)))
    j = ngram_jaccard_pairs(
        pair.withColumn(
            "doc_id", F.when(F.col("doc_id") >= 1_000_000, F.lit(int(row.id_a)) + 1).otherwise(F.lit(int(row.id_a)))
        )
    ).toPandas()
    assert abs(row.jaccard - j.jaccard_1e4.iloc[0] / 10000.0) < 2e-4


def test_minhash_driver_corpus_recall_and_zero_drops(spark):
    """Backs the rows-only ``minhash_lsh`` driver row with a value-level
    gate: on the ACTUAL sf0.01 driver corpus, (a) LSH candidate recall
    over all-pairs true-Jaccard near-dups meets a bound, and (b) the
    bucket cap drops nothing (the driver numbers are uncapped reality)."""
    from nominatimwrapper_spark.operators.dedup import (
        banded_signatures,
        lsh_dropped_bucket_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    pdf = docs.toPandas()
    # all-pairs true Jaccard on word 3-shingles (500 docs -> 125k pairs)
    sh = []
    for t in pdf.text:
        toks = t.split()
        sh.append(
            frozenset(
                " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
            )
        )
    ids = pdf.doc_id.tolist()
    true_pairs = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            inter = len(sh[i] & sh[j])
            if not inter:
                continue
            if inter / len(sh[i] | sh[j]) >= 0.7:
                a, b = sorted((ids[i], ids[j]))
                true_pairs.add((a, b))
    assert true_pairs, "driver corpus has no true near-dups to measure recall on"

    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=8).toPandas()
    found = {tuple(sorted(p)) for p in zip(cand.id_a, cand.id_b)}
    recall = len(true_pairs & found) / len(true_pairs)
    # 32 hashes / 8 bands: P(collide | J=0.7) ~ 1-(1-0.7^4)^8 ~ 0.91/pair
    assert recall >= 0.85, f"LSH recall {recall:.2f} over {len(true_pairs)} pairs"

    n_buckets, n_rows = lsh_dropped_bucket_stats(
        banded_signatures(docs, num_hashes=32, bands=8), max_bucket_size=500
    )
    assert (n_buckets, n_rows) == (0, 0), "cap dropped rows on the driver corpus"


def test_minhash_degenerate_corpus_capped(spark):
    """1k identical docs = one degenerate LSH bucket per band. The bucket
    cap must drop it BEFORE the self-join (the uncapped plan is O(n^2)
    pairs), so candidate output is empty and the job finishes fast."""
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("boilerplate cookie banner accept all cookies to continue").alias("text"),
    )
    cand = minhash_lsh_candidates(docs, max_bucket_size=100)
    assert cand.count() == 0  # the whole bucket was dropped, not joined

    # the drop-volume reporter sees what the cap removed
    from nominatimwrapper_spark.operators.dedup import (
        lsh_dropped_bucket_stats,
        minhash_signature,
        word_shingles,
    )

    sigs = docs.select(
        "doc_id", minhash_signature(word_shingles(F.col("text"))).alias("sig")
    )
    # identical text -> identical signature for every row
    assert sigs.select("sig").distinct().count() == 1

    # with a cap above the bucket size the pairs DO come back (sanity that
    # the cap, not a broken join, is what emptied the candidate set)
    small = spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit("same exact text here for all").alias("text")
    )
    cand2 = minhash_lsh_candidates(small, max_bucket_size=500)
    assert cand2.count() == 30 * 29 // 2


def test_lsh_dropped_bucket_stats(spark):
    from nominatimwrapper_spark.operators.dedup import lsh_dropped_bucket_stats

    banded = spark.createDataFrame(
        [(i, 0, 7) for i in range(50)] + [(99, 1, 8)],
        "id long, band int, bhash long",
    )
    n_buckets, n_rows = lsh_dropped_bucket_stats(banded, max_bucket_size=10)
    assert (n_buckets, n_rows) == (1, 50)
    n_buckets, n_rows = lsh_dropped_bucket_stats(banded, max_bucket_size=100)
    assert (n_buckets, n_rows) == (0, 0)


def test_minhash_agg_signatures_equal_fold_signatures(spark):
    """The codegen-friendly explode+partial-agg signature path
    (minhash_signatures_agg, round-4 bench optimization) is value-
    identical to the higher-order-function fold (minhash_signature) on
    the driver corpus — including empty/degenerate docs."""
    from pyspark.sql import functions as F

    from nominatimwrapper_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures_agg,
        word_shingles,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(400)
    extra = spark.createDataFrame(
        pd.DataFrame({"doc_id": [90001, 90002, 90003, 90004],
                      "text": ["", "one two", "one two three four", None]})
    )
    d = d.select("doc_id", "text").unionByName(extra)
    fold = d.select(
        F.col("doc_id").alias("_id"),
        minhash_signature(word_shingles(F.col("text"), 3), 32).alias("_sig"),
    ).toPandas()
    agg = minhash_signatures_agg(d, "doc_id", "text", 32, 3).toPandas()
    fold = fold.sort_values("_id").reset_index(drop=True)
    agg = agg.sort_values("_id").reset_index(drop=True)
    assert (fold["_id"] == agg["_id"]).all()
    for i, a, b in zip(fold["_id"], fold["_sig"], agg["_sig"]):
        if i == 90004:  # NULL text -> NULL signature on BOTH paths
            assert a is None and b is None
            continue
        assert list(a) == list(b), i


def test_documents_scaled_handles_gappy_ids(spark, tmp_path):
    """documents_scaled's partner-ring remix must not assume dense
    0..N-1 doc ids (regression: (doc_id + r) % n joined inner against
    actual ids silently dropped replicas on gappy corpora, skewing the
    benched docs/s denominator)."""
    from nominatimwrapper_spark.plans.flagship import documents_scaled

    gappy = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [3, 17, 40, 41, 900],  # gaps + non-zero start
            "text": [f"alpha beta gamma delta doc {i}" for i in range(5)],
        })
    )
    d = str(tmp_path / "gap")
    gappy.write.parquet(f"{d}/documents.parquet")
    out = documents_scaled(spark, d, factor=7)
    assert out.count() == 5 * 7
    assert out.select("doc_id").distinct().count() == 5 * 7
    assert out.filter(F.col("text").isNull()).count() == 0

    # dense corpus: unchanged fast path, same row-count law
    dense = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": list(range(6)),
            "text": [f"one two three four five doc {i}" for i in range(6)],
        })
    )
    d2 = str(tmp_path / "dense")
    dense.write.parquet(f"{d2}/documents.parquet")
    out2 = documents_scaled(spark, d2, factor=4)
    assert out2.count() == 6 * 4


def test_streaming_catchup_state_rows_bounded_by_keys(spark, tmp_path):
    """VERDICT r5 item 4: the availableNow catch-up regime deduplicates
    with run-scoped key-only state — assert, from the query's own
    progress metrics, that the state holds exactly one row per DISTINCT
    url (key-only, no payload), which is the documented bound: a 100 TB
    backfill drained in ONE availableNow run holds every url key, so
    backfills of that size must be sharded by input range (or run
    continuous with the watermarked dedup, whose state is time-bounded)."""
    import glob
    import shutil

    from nominatimwrapper_spark.plans.flagship import (
        gazetteer_index,
        pages_from_documents,
    )
    from nominatimwrapper_spark.streaming.geocode_stream import geocode_pages_stream

    pages = pages_from_documents(spark, "/root/testdata/sf0.001").localCheckpoint(
        eager=True
    )
    n_urls = pages.select("url").distinct().count()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(3):  # 3 file arrivals -> multi-epoch backfill
        part = pages.filter(F.crc32(F.col("url")) % 3 == i)
        d = str(tmp_path / f"_s{i}")
        part.coalesce(1).write.parquet(d)
        shutil.move(glob.glob(f"{d}/part-*.parquet")[0], str(in_dir / f"{i:03d}.parquet"))
    q = geocode_pages_stream(
        spark, str(in_dir), gazetteer_index(spark),
        str(tmp_path / "out"), str(tmp_path / "ck"),
    )
    q.awaitTermination()
    prog = q.lastProgress
    assert prog is not None and prog["stateOperators"], prog
    state_rows = sum(op["numRowsTotal"] for op in prog["stateOperators"])
    assert state_rows == n_urls, (state_rows, n_urls)
