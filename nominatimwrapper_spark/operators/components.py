# -*- coding: utf-8 -*-
"""Distributed connected components (alternating large-star / small-star).

The dup-cluster resolution the near-dup dedup suite needs: MinHash-LSH's
verified pair set is an EDGE LIST whose transitive closure defines the
duplicate clusters, and "keep the lowest-id doc per cluster" requires the
component minimum — a single-hop "drop if any lower-id near-identical
neighbor" rule over-keeps on chain-shaped clusters (A–D, C–D with
A<C<D: C's only path to the component minimum A runs through D, a
HIGHER id, so single-hop keeps both A and C).

Algorithm: the alternating star rounds of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SOCC'14) — publicly documented and
widely reimplemented (GraphFrames' default CC is this family). Each round
is two shuffles on the node key:

- large-star: every node u connects its LARGER neighbors to its current
  minimum m(u) = min(N(u) ∪ {u});
- small-star: every node u connects its SMALLER-or-equal neighbors (and
  itself) to that minimum.

Both preserve connectivity; the composition strictly reduces a potential
function, converging in O(log n) rounds to a star forest where every edge
is (node, component-minimum). No driver-side state beyond the loop
counter and a convergence count; per-round localCheckpoint truncates
lineage exactly like the geocode cascade does (SURVEY §7 hard-part 3).

100 TB notes: each round is two map-side-combinable groupBy(min) passes +
an equi-join back on the node key — the same shuffle key throughout, so
AQE coalesces consistently; edges stay (long, long) pairs; the distinct()
after each star bounds the edge set by O(E). No all-pairs anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a localCheckpoint-ed frame.

    localCheckpoint truncates lineage, so the blocks are NOT recomputable:
    only call this once the frame can never be referenced again (a
    superseded per-round edge set). Best-effort via the LogicalRDD's
    internal RDD handle; a py4j surface change degrades to a no-op (the
    blocks then just age out with the session, the pre-round-6 behavior).
    """
    try:  # pragma: no cover - exercised indirectly
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges -> for each node, connect strictly-larger neighbors to
    min(N(u) ∪ {u})."""
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("_m"))
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint, then connect each node's
    smaller-or-equal neighborhood (plus itself) to its minimum."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = o.groupBy("u").agg(F.min("v").alias("_m"))
    relink = (
        o.join(mins, on="u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    selfl = mins.select("u", F.col("_m").alias("v"))
    return (
        relink.unionAll(selfl)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _min_label(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, component) for the endpoints of the edges (u[i], v[i]):
    ``ids`` the sorted distinct node ids, ``component`` the minimum id of
    each one's connected component.

    Union-find over numpy parent pointers on the densified ids, one
    vectorized round at a time: every root linked to a smaller root by a
    remaining edge hooks onto the smallest of them, every pointer then
    jumps to its root, and the edges are relabelled to their roots with
    the now-internal ones dropped. A pointer only ever moves to a smaller
    index, so each root is its tree's minimum; a round that keeps an edge
    hooks at least one root, so the loop ends."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    parent = np.arange(len(ids))
    while len(a):
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        a, b = parent[a], parent[b]
        cross = a != b
        a, b = a[cross], b[cross]
    return ids, ids[parent]


def _union_find_components(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """Exact closure for a SMALL edge set on the driver (``_min_label``).
    Only the edge list is collected (bounded by the caller's gate); the
    node set stays distributed — the (node -> component) mapping, one row
    per node with an edge, is broadcast back and left-joined exactly like
    the distributed loop's star-forest tail join."""
    import pandas as pd

    pdf = e.toPandas()
    ids, comp = _min_label(
        pdf["u"].to_numpy(dtype=np.int64), pdf["v"].to_numpy(dtype=np.int64)
    )
    mapping = pd.DataFrame({"node": ids, "component": comp})
    mdf = F.broadcast(
        e.sparkSession.createDataFrame(mapping, schema="node long, component long")
    )
    return nodes.join(mdf, on="node", how="left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of its connected component.

    Exact convergence check per round (count + one-way exceptAll on the
    distinct edge sets — no hash-fingerprint false positives); raises if
    ``max_iter`` rounds don't converge (alternating stars converge in
    O(log n), so 40 covers any realizable input).

    Strategy is scale-adaptive on the MEASURED distinct-edge count:
    ``driver_max_edges`` (default 1M) routes small closures through an
    exact driver-side union-find (no per-round Spark jobs; the mapping
    broadcasts back), larger ones through the alternating-star loop.
    Pass 0 to force the distributed loop. At the default the driver holds
    the collected edges (16 MB of longs) plus the union-find's numpy
    arrays, which peak at about 115 MB, most of it ``np.unique``'s sort
    (measured with 1M random edges over 2M nodes).

    NB: EAGER — the input edge list (and thus its whole upstream plan,
    e.g. the LSH-verify pipeline when called from minhash_dedup) executes
    at call time via localCheckpoint, not at the first action on the
    returned frame. Superseded per-round checkpoint blocks (and the raw
    input pin) are unpersisted as the loop advances; only the node set
    and the final star forest stay pinned, because the returned frame is
    a lazy join over exactly those two."""
    # pin the input edge list FIRST: nodes and e both consume it, and the
    # upstream plan may be expensive (minhash_dedup feeds the whole
    # LSH-verify pipeline in here — evaluating it twice doubled the
    # 1M-doc dedup wall before this checkpoint)
    raw = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=True)
    )
    # node set from the RAW list: a self-loop-only node is an isolated
    # node (its own component), not absent from the output
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # nodes and e are materialized — the raw pin has no further reader
    _unpersist_checkpoint(raw)
    if e.isEmpty():
        return nodes.withColumn("component", F.col("node"))

    prev_n = e.count()
    # Scale-adaptive strategy pick (guide §1.2): the distinct edge set is
    # usually orders of magnitude smaller than the corpus that produced it
    # (the 1M-doc bench closure verifies ~13k edges). Below the gate an
    # exact driver-side union-find replaces O(log n) alternating-star
    # rounds of 4 Spark jobs each — same (node, component-minimum) values,
    # none of the per-round fixed cost. The collect is BOUNDED by the gate
    # (two longs per edge, see the docstring for the peak); above it the
    # distributed loop below is the only sound shape and runs unchanged.
    if prev_n <= driver_max_edges:
        out = _union_find_components(e, nodes)
        _unpersist_checkpoint(e)  # collected; nodes stays pinned (output reads it)
        return out

    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        n2 = e2.count()
        converged = n2 == prev_n and e2.exceptAll(e).isEmpty()
        _unpersist_checkpoint(e)  # superseded: e2 is materialized
        e, prev_n = e2, n2
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # fixpoint is a star forest: every surviving edge is (node, root).
    # Roots (and any isolated-after-self-loop-removal nodes) map to
    # themselves via the left join fallback.
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return nodes.join(comp, on="node", how="left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )
