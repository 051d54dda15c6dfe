# -*- coding: utf-8 -*-
"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the plan — predicate pushdown + column pruning at the
scan, broadcast joins for the gazetteer, whole-stage codegen for Column
math (SURVEY.md §4)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _formatted(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_totalprice")
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan
    # column pruning: scan schema contains only the two needed columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_orderpriority" not in read_schema and "o_custkey" not in read_schema


def _join_sections(plan: str, kind: str) -> list[str]:
    """The detail sections of the formatted plan's ``kind`` join nodes."""
    return [sec for sec in plan.split("\n\n") if re.match(rf"\(\d+\) {kind}\b", sec)]


def test_lookup_is_one_cogrouped_stage(spark, tmp_path_factory):
    """The whole ladder of the unique tuples is ONE grouped pandas stage
    over the gazetteer rows their locality groups reach: one join of the
    groups' localities with the streets photon can pick, one with the
    lookup rows, both on the (kind, key) locality key. Under the
    broadcast gate the locality side of both is broadcast; in the
    >broadcast-gate regime (a several-GB planet gazetteer, auto-broadcast
    off) nothing is — a broadcast planet gazetteer would OOM every
    executor."""
    from nominatimwrapper_spark.operators import geocode
    from nominatimwrapper_spark.synth import gen_world, write_world

    def stage_plan(index, addr) -> str:
        tuples = geocode._unique_tuples(addr.withColumn("_tk", geocode._tuple_key()))
        return _formatted(geocode._ladder_stage(tuples, index, tuples.count()))

    def locality_joins(plan: str, kind: str) -> int:
        return sum(
            "Join type: Inner" in sec and bool(re.search(r"Left keys \[2\]: \[kind#\d+, key#", sec))
            for sec in _join_sections(plan, kind)
        )

    d = tmp_path_factory.mktemp("plan_world")
    write_world(str(d), gen_world(n_streets=30, houses_per_street=4, n_pages=5, n_per_class=1))
    index = geocode.build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet"))
    addr = spark.read.parquet(f"{d}/addresses.parquet").selectExpr(
        "referenceKey as addr_key", "streetName as street", "houseNumber as housenbr",
        "postCode as postcode", "postName as city", "countryName as country"
    )
    plan = stage_plan(index, addr)
    assert plan.count("FlatMapCoGroupsInPandas (") == 1, plan
    assert locality_joins(plan, "BroadcastHashJoin") == 2, plan

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # threshold off BEFORE the index build: the cached lookup plan
        # (gazetteer self-join for parent variants) compiles under it too,
        # exactly as a >threshold planet gazetteer would plan itself
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # a fresh path: the cache manager dedups .cache() by logical plan,
        # so reusing the same parquet dir would hand back the FIRST index's
        # broadcast-compiled InMemoryRelation
        d2 = tmp_path_factory.mktemp("plan_world_nobc")
        write_world(str(d2), gen_world(n_streets=30, houses_per_street=4, n_pages=5, n_per_class=1))
        index_nobc = geocode.build_gazetteer_index(
            spark.read.parquet(f"{d2}/gazetteer.parquet"), broadcast_max_bytes=0
        )
        assert index_nobc.broadcast_ok is False
        plan_nobc = stage_plan(index_nobc, addr)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    assert plan_nobc.count("FlatMapCoGroupsInPandas (") == 1, plan_nobc
    assert "BroadcastExchange" not in plan_nobc
    assert locality_joins(plan_nobc, "SortMergeJoin") == 2, plan_nobc


def test_column_math_stays_in_codegen(spark):
    from nominatimwrapper_spark.plans.driver_queries import q_haversine

    plan = _formatted(q_haversine(spark, SF))
    assert "codegen id" in plan  # whole-stage codegen spans (Spark 4 marker)
    # no Python UDF stage in a pure-Column query
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cascade_result_has_no_restore_join(spark, tmp_path_factory):
    """The original input row (caller columns included) is carried through
    the fan-back as a struct, so the cascade's final result must NOT contain
    a full-input restore join (at 100 TB that join — every input row
    reshuffled against every result row on addr_key — would be the job's
    largest shuffle)."""
    from nominatimwrapper_spark.operators.geocode import build_gazetteer_index, cascade
    from nominatimwrapper_spark.synth import gen_world, write_world

    d = tmp_path_factory.mktemp("norestore_world")
    write_world(str(d), gen_world(n_streets=30, houses_per_street=4, n_pages=5, n_per_class=1))
    index = build_gazetteer_index(spark.read.parquet(f"{d}/gazetteer.parquet"))
    addr = spark.read.parquet(f"{d}/addresses.parquet").selectExpr(
        "referenceKey as addr_key", "streetName as street", "houseNumber as housenbr",
        "postCode as postcode", "postName as city", "countryName as country"
    ).withColumn("caller_col", F.concat(F.lit("payload-"), F.col("addr_key")))
    res, _ = cascade(addr, index, with_rejected=False)
    plan = _formatted(res)
    # The fan-back join (keyed on transformed_address) may legitimately
    # appear as a shuffle join — at scale the unique-address side can be
    # too big to broadcast, and AQE converts it when it's small. What must
    # NOT exist is a join keyed on addr_key: that's the full-input restore
    # join the _orig payload struct replaces.
    import re

    assert not re.search(r"keys \[\d+\]: \[addr_key", plan), (
        "final cascade plan contains a join keyed on addr_key (restore join)"
    )
    # caller columns survive the cascade without the join
    out = res.select("addr_key", "caller_col").toPandas()
    assert (out["caller_col"] == "payload-" + out["addr_key"]).all()


def test_knn_target_join_respects_byte_gate(spark):
    """Round-3 verdict #2: kNN must not force-broadcast the target
    table. Below the byte gate the per-ring join is a BroadcastHashJoin;
    above it (or forced) the plan contains NO BroadcastExchange for the
    target side — a shuffle hash join on the cell key instead."""
    from nominatimwrapper_spark.operators.spatial import _knn_target_join

    t = spark.range(1000).selectExpr(
        "id as _tid", "cast(id as double)/100 as _tlat",
        "cast(id as double)/100 as _tlon", "id % 37 as _tcell"
    )
    shell = spark.range(200).selectExpr(
        "id as query_id", "cast(id as double)/50 as lat",
        "cast(id as double)/50 as lon", "id % 37 as _cell"
    )
    bc_plan = _formatted(_knn_target_join(shell, t, no_bc=False))
    assert "BroadcastHashJoin" in bc_plan
    nobc_plan = _formatted(_knn_target_join(shell, t, no_bc=True))
    assert "BroadcastExchange" not in nobc_plan
    assert "ShuffledHashJoin" in nobc_plan or "SortMergeJoin" in nobc_plan


def test_fused_cell_udf_single_arrow_crossing(spark):
    """Round-3 verdict #5: cell13 + h3_9 must cost ONE Python crossing.
    The fused struct UDF shows exactly one ArrowEvalPython node; the old
    two-UDF pattern showed two."""
    from nominatimwrapper_spark.functions import geo

    pts = spark.range(100).selectExpr(
        "cast(id as double)/10 as lat", "cast(id as double)/10 - 3 as lon"
    )
    cells = geo.s2_h3_cells_udf(13, 9)(F.col("lat"), F.col("lon"))
    df = (
        pts.withColumn("_cells", cells)
        .withColumn("cell13", F.col("_cells.s2"))
        .withColumn("h3_9", F.col("_cells.h3"))
        .drop("_cells")
    )
    plan = _formatted(df)
    # tree form "ArrowEvalPython (n)" — the detail section repeats the
    # node as "(n) ArrowEvalPython", so count tree nodes only
    assert plan.count("ArrowEvalPython (") == 1, plan


def _final_plan(df) -> str:
    """The executed physical plan of ``df`` after an action ran it: the
    adaptive plan's final section only."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _planted_near_dups(spark, n: int = 120):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(n)
    dups = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(dups)


def test_lsh_candidates_are_one_bucket_exchange_without_join(spark):
    """The LSH pairs come from per-bucket id lists: the executed plan has
    no join, and the cap window and the bucket groupBy share ONE
    exchange hashed on (band, bhash)."""
    from nominatimwrapper_spark.operators.dedup import minhash_lsh_candidates

    # spread over 4 partitions: a single-partition input needs no exchange
    docs = _planted_near_dups(spark).repartition(4, "doc_id")
    cand = minhash_lsh_candidates(docs, num_hashes=32, bands=8)
    assert len(cand.toPandas()) > 0
    plan = _final_plan(cand)
    assert "Join" not in plan, plan
    bucket = re.findall(r"Exchange hashpartitioning\(band#\d+, bhash#\d+L?,", plan)
    assert len(bucket) == 1, plan


def test_verify_attach_gate_boundary(spark):
    """The verify-attach gate on each side of its threshold: at the
    measured array-table bytes both attach joins broadcast, one byte
    below neither does, and the verified edges are identical. The gate's
    (n, w) observed on the checkpoint job equal an explicit aggregate."""
    import pandas as pd

    from nominatimwrapper_spark.operators.dedup import _shingle_table, minhash_verified_pairs

    docs = _planted_near_dups(spark)
    hs, n, w = _shingle_table(docs, "doc_id", "text", 3)
    st = hs.agg(F.count(F.lit(1)).alias("n"), F.avg(F.size("_hsh")).alias("w")).first()
    assert (n, w) == (st["n"], st["w"])
    measured = int(n * (w * 8 + 32))

    def verified(gate):
        df = minhash_verified_pairs(docs, jaccard_threshold=0.5, broadcast_max_bytes=gate)
        rows = df.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
        return rows, _final_plan(df)

    at, at_plan = verified(measured)
    below, below_plan = verified(measured - 1)
    assert len(at) > 0
    pd.testing.assert_frame_equal(at, below)
    assert at_plan.count("BroadcastHashJoin") == 2, at_plan
    assert "BroadcastHashJoin" not in below_plan, below_plan
    assert below_plan.count("ShuffledHashJoin") == 2, below_plan
