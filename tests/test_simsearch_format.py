# -*- coding: utf-8 -*-
"""ANN similarity search (LSH vs brute force) + output formatting tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nominatimwrapper_spark.operators.format import format_results
from nominatimwrapper_spark.operators.simsearch import (
    cosine_near_dup_pairs,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    train_ivf_centroids,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def probes(vectors):
    return vectors.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )


def test_bruteforce_self_is_top1(vectors, probes):
    bf = cosine_topk_bruteforce(vectors, probes, k=3).toPandas()
    top1 = bf[bf["rank"] == 1]
    assert (top1.probe_id == top1.vec_id).all()
    assert (top1.cos_1e4 == 10000).all()


def test_lsh_recall_vs_bruteforce(vectors, probes):
    k = 5
    bf = cosine_topk_bruteforce(vectors, probes, k=k).toPandas()
    lsh = cosine_topk_lsh(vectors, probes, k=k, bands=16).toPandas()
    recalls = []
    for pid, grp in bf.groupby("probe_id"):
        truth = set(grp.vec_id)
        got = set(lsh[lsh.probe_id == pid].vec_id)
        recalls.append(len(truth & got) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, f"LSH mean recall {mean_recall}"
    # top-1 (self) must always survive: identical vectors share all buckets
    top1 = lsh[lsh["rank"] == 1]
    assert set(top1.probe_id) == set(bf.probe_id.unique())


def test_ivf_recall_vs_bruteforce(vectors, probes):
    k = 5
    bf = cosine_topk_bruteforce(vectors, probes, k=k).toPandas()
    ivf = cosine_topk_ivf(vectors, probes, k=k, n_centroids=32, nprobe=4).toPandas()
    recalls = []
    for pid, grp in bf.groupby("probe_id"):
        truth = set(grp.vec_id)
        got = set(ivf[ivf.probe_id == pid].vec_id)
        recalls.append(len(truth & got) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, f"IVF mean recall {mean_recall}"
    # each probe's own vector lives in the probe's best centroid list,
    # which nprobe>=1 always searches -> self must rank first
    top1 = ivf[ivf["rank"] == 1]
    assert (top1.probe_id == top1.vec_id).all()
    assert (top1.cos_1e4 == 10000).all()


def test_ivf_build_is_single_corpus_job(spark, vectors):
    """The index build must cost exactly ONE Spark job over the corpus
    (TakeOrderedAndProject sample) — no count() pre-pass, no second scan.
    At 100 TB a stray extra pass is a full corpus read."""
    sc = spark.sparkContext
    sc.setJobGroup("ivf_build_probe", "count jobs in train_ivf_centroids")
    try:
        train_ivf_centroids(vectors, n_centroids=8, iters=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("ivf_build_probe")
    assert len(jobs) == 1, f"IVF build ran {len(jobs)} corpus jobs, expected 1"


def test_ivf_probe_guard(vectors, probes):
    """An oversized probe frame fails fast (bounded limit+collect) instead
    of OOMing the driver."""
    with pytest.raises(ValueError, match="max_probes"):
        cosine_topk_ivf(vectors, vectors.selectExpr("vec_id as probe_id", "embedding"),
                        k=2, n_centroids=8, max_probes=10)


def test_ivf_centroids_deterministic(vectors):
    a = train_ivf_centroids(vectors, n_centroids=16, iters=3)
    b = train_ivf_centroids(vectors, n_centroids=16, iters=3)
    import numpy as np

    assert a.shape == (16, len(vectors.select("embedding").first()[0]))
    assert np.array_equal(a, b)
    # unit rows (spherical k-means)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


def test_cosine_near_dup_pairs(spark, vectors):
    # plant exact duplicates: vec_id+1M with identical embedding
    dups = vectors.limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    all_v = vectors.select("vec_id", "embedding").unionByName(dups)
    pairs = cosine_near_dup_pairs(all_v, threshold=0.999).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    planted = {(i, i + 1_000_000) for i in range(20)}
    assert planted <= found  # identical vectors always collide in every band


def test_format_modes(spark, tmp_path_factory):
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
    from nominatimwrapper_spark.synth import gen_world, write_world

    d = tmp_path_factory.mktemp("fmt")
    write_world(str(d), gen_world(n_streets=30, houses_per_street=4, n_pages=5, n_per_class=1))
    index = build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet"))
    addr = spark.read.parquet(f"{d}/addresses.parquet").selectExpr(
        "referenceKey as addr_key", "streetName as street", "houseNumber as housenbr",
        "postCode as postcode", "postName as city", "countryName as country"
    ).limit(6)
    res, _ = cascade(addr, index, with_rejected=False)

    for mode in ("coordinates", "short", "long"):
        out = format_results(res, mode).toPandas()
        assert len(out) == res.count()
        rec = json.loads(out.record_json.iloc[0])
        assert "input" in rec and "output" in rec and "metadata" in rec
        assert rec["input"]["referenceKey"] == out.addr_key.iloc[0]
        assert "lat" in rec["output"]
        if mode == "long":
            assert "check" in rec and "simStreet" in rec["check"]
        # empty strings dropped (skip_none semantics)
        assert "" not in rec["output"].values()

    with pytest.raises(ValueError, match="mode"):
        format_results(res, "bogus")
