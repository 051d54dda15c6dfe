#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Locality-group sizes of the ladder stage and cascade cost in the
above-gate regime.

Generates a synthetic world, builds its index with broadcast_max_bytes=0
and auto-broadcast off (the shuffle regime a planet gazetteer runs in),
then reports:

- for the addresses' unique tuples, the groups of the ladder stage
  (geocode._locality_groups): the number of groups, tuples ("queries")
  and gazetteer rows per group (median and max), the rows sent in all
  and the replication (rows sent / lookup rows; a row reaching a group
  through both its postcode and its city key counts twice, once in the
  distinct rows sent), and each
  group's pandas call (geocode._group_pdf) timed one by one on the
  driver (median and max);
- the cascade's wall and CPU seconds (driver, JVM and Python workers)
  per call, after one warm-up call.

Usage:

    python scripts/lookup_groups.py [n_streets] [houses_per_street] [n_per_class] [calls]

One JSON line per invocation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (reaped children included)."""
    stats = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError, ValueError):
            continue
        stats[int(p)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    me, total = os.getpid(), 0
    for pid, (_ppid, ticks) in stats.items():
        q = pid
        while q > 1 and q != me:
            q = stats[q][0] if q in stats else 0
        if q == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def quantiles(xs) -> dict:
    xs = sorted(xs)
    return {"n": len(xs), "median": xs[len(xs) // 2], "max": xs[-1]} if xs else {"n": 0}


def group_sizes(addr, index) -> dict:
    from nominatimwrapper_spark.operators.geocode import (
        _group_pdf,
        _locality_groups,
        _tuple_key,
        _unique_tuples,
    )

    tuples = _unique_tuples(addr.withColumn("_tk", _tuple_key())).localCheckpoint(eager=True)
    n_uq = tuples.count()
    q, lk = _locality_groups(tuples, index, n_uq)
    qp, gp = q.toPandas(), lk.toPandas()
    secs = []
    for b, qg in qp.groupby("_b"):
        t0 = time.perf_counter()
        _group_pdf(qg, gp[gp._b == b], True, True)
        secs.append(round(time.perf_counter() - t0, 3))
    return {
        "unique_tuples": n_uq,
        "queries_per_group": quantiles(qp.groupby("_b").size().tolist()),
        "gazetteer_rows_per_group": quantiles(gp.groupby("_b").size().tolist()),
        "gazetteer_rows_sent": len(gp),
        "replication": round(len(gp) / index.lookup.count(), 3),
        "distinct_rows_sent": len(gp.drop_duplicates(["_b", "key_street", "place_id"])),
        "seconds_per_group": quantiles(secs),
    }


def main() -> None:
    args = [int(a) for a in sys.argv[1:5]]
    n_streets, houses, per_class, calls = args + [600, 30, 500, 3][len(args):]

    from nominatimwrapper_spark.operators import geocode
    from nominatimwrapper_spark.session import get_spark
    from nominatimwrapper_spark.synth import gen_world, write_world

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    d = tempfile.mkdtemp(prefix="lookup_groups_")
    w = gen_world(n_streets=n_streets, houses_per_street=houses, n_pages=5, n_per_class=per_class)
    write_world(d, w)
    index = geocode.build_gazetteer_index(
        spark.read.parquet(f"{d}/gazetteer.parquet"), broadcast_max_bytes=0
    )
    a = w["addresses"].rename(
        columns=dict(referenceKey="addr_key", streetName="street", houseNumber="housenbr",
                     postCode="postcode", postName="city", countryName="country")
    )[geocode.ADDR_COLS]
    addr = spark.createDataFrame(a).localCheckpoint(eager=True)
    out = {
        "n_streets": n_streets, "houses_per_street": houses, "addresses": len(a),
        "gazetteer_rows": len(w["gazetteer"]), "lookup_rows": index.lookup.count(),
    }
    out["groups"] = group_sizes(addr, index)
    walls, cpus = [], []
    for i in range(calls + 1):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        res, rej = geocode.cascade(addr, index)
        n_res, n_rej = res.count(), rej.count()
        if i:  # the first call warms the JVM and the Python workers
            walls.append(round(time.perf_counter() - t0, 2))
            cpus.append(round(tree_cpu_s() - c0, 2))
    out.update(cascade_wall_s=walls, cascade_cpu_s=cpus, results=n_res, rejects=n_rej)
    spark.stop()
    shutil.rmtree(d)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
