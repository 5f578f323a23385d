"""Force-run the distributed physical strategies at bench scale.

Three operators keep a driver fast path up to a row limit with a
distributed loop above it (`near_dup_clusters`, `surface_canonical_mapping`
/ `canonical_mapping`, `bnode_owners`; the limits are the private
`_DRIVER_*` constants, the gate is `functions/graph.py:small_frame`).
Small-scale equality tests exist in tests/; this script times the public
function (driver path, every input here is under its limit) against the
private `_*_distributed` function on the same bench-scale input, and
re-asserts result equality — the measurements behind the three limits.

Prints one JSON line; numbers are copied into BENCH.md.

Usage: python tools/distributed_paths_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def timed(fn):
    t0 = time.time()
    out = fn()
    return round(time.time() - t0, 2), out


def main():
    from pyspark.sql import functions as F

    from bench import build_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        _surface_canonical_mapping_distributed,
        surface_canonical_mapping,
    )
    from rdf_dataset_fragmenter_js_spark.plans import testdata as TD
    from rdf_dataset_fragmenter_js_spark.strategies.bnode import (
        _bnode_owners_distributed,
        _ownership_links,
        bnode_owners,
    )
    from rdf_dataset_fragmenter_js_spark.textops import dedup as D

    results: dict = {"sf_dir": sf_dir, "cpus": cpus}

    # ---- bnode ownership closure -----------------------------------------
    quads = TD.bnode_quads(spark, sf_dir).localCheckpoint(eager=True)
    args = (quads, "s", "s_type", "o", "o_type")
    drv_sec, drv = timed(lambda: bnode_owners(*args).toPandas())
    dist_sec, dist = timed(
        lambda: _bnode_owners_distributed(_ownership_links(*args)).toPandas()
    )
    a = set(map(tuple, drv.itertuples(index=False, name=None)))
    b = set(map(tuple, dist.itertuples(index=False, name=None)))
    assert a == b, f"bnode_owners paths disagree: {len(a)} vs {len(b)}"
    results["bnode_owners"] = {
        "rows": len(a),
        "driver_sec": drv_sec,
        "distributed_sec": dist_sec,
        "equal": True,
    }

    # ---- near-dup connected components -----------------------------------
    TD.register_views(spark, sf_dir)
    docs = spark.table("documents")
    pairs = D.lsh_candidate_pairs(docs, k=8, bands=4, shingle_size=8)
    drv_sec, drv = timed(lambda: D.near_dup_clusters(pairs).toPandas())
    dist_sec, dist = timed(
        lambda: D._near_dup_clusters_distributed(pairs).toPandas()
    )
    a = set(map(tuple, drv.itertuples(index=False, name=None)))
    b = set(map(tuple, dist.itertuples(index=False, name=None)))
    assert a == b, "near_dup_clusters paths disagree"
    results["near_dup_clusters"] = {
        "pairs": int(pairs.count()),
        "rows": len(a),
        "driver_sec": drv_sec,
        "distributed_sec": dist_sec,
        "equal": True,
    }

    # ---- canonical mapping at the driver limit ----------------------------
    # 99,999 distinct surfaces (just under the 100k `_DRIVER_FORMS` limit)
    # with clusterable alias variants — the real-corpus vocabulary shape,
    # synthesized so both paths run at the top of the driver path's range.
    n_base = 33_333
    mentions = (
        spark.range(3 * n_base)
        .select(
            F.when(
                F.col("id") % 3 == 0,
                F.concat(F.lit("acme corp "), (F.col("id") / 3).cast("long").cast("string")),
            )
            .when(
                F.col("id") % 3 == 1,
                F.concat(F.lit("the acme corp "), (F.col("id") / 3).cast("long").cast("string")),
            )
            .otherwise(
                F.concat(F.lit("Acme Corp "), (F.col("id") / 3).cast("long").cast("string"))
            )
            .alias("surface")
        )
        .localCheckpoint(eager=True)
    )
    drv_sec, drv = timed(
        lambda: surface_canonical_mapping(mentions).toPandas()
    )
    dist_sec, dist = timed(
        lambda: _surface_canonical_mapping_distributed(
            mentions.distinct(), 0.7
        ).toPandas()
    )
    a = dict(zip(drv["surface"], drv["canonical_id"]))
    b = dict(zip(dist["surface"], dist["canonical_id"]))
    assert a == b, "surface_canonical_mapping paths disagree"
    results["surface_canonical_mapping"] = {
        "surfaces": 3 * n_base,
        "driver_sec": drv_sec,
        "distributed_sec": dist_sec,
        "equal": True,
    }

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
