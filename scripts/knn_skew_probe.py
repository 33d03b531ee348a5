"""knn_join skew probe: fixed global probe ladder vs density-adaptive
auto_levels on a clump+field sky — the self-kNN shape a real survey has.

Synthetic sky: N_FIELD rows uniform over the sphere band plus N_CLUMP
rows inside one CLUMP_R-deg box (a dense-cluster hot spot). Self-kNN
(k nearest neighbors for EVERY row, exclude_self). The fixed ladder must
start at a level coarse enough for the sparse field, which turns the
clump into one enormous shuffle key (clump^2 candidate pairs ranked in
one window partition); auto_levels starts each row at the finest level
its local density supports, so the clump probes fine cells and the field
coarse ones.

A second sky puts N_RESID rows inside ~0.07 arcsec: one cell at every
level knn_join probes, so the cogroup must split it over hash groups
(``split_cells`` in knn._DECISIONS) rather than hold its N_RESID^2 pairs
in one task. auto_levels and the fixed ladder must agree on it too.

Measured in isolated sessions (one per config, one core per available
CPU); result equality is asserted via a full checksum. Writes
bench_artifacts/knn_skew_probe.json. Run ISOLATED (single-box co-tenancy
swings shuffle timings 2x), with SPARK_GRAFT_DRIVER_MEM=4g:

    SPARK_GRAFT_DRIVER_MEM=4g python scripts/knn_skew_probe.py [clump|resid]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

N_FIELD = int(os.environ.get("KNN_PROBE_FIELD", "500000"))
N_CLUMP = int(os.environ.get("KNN_PROBE_CLUMP", "10000"))
# residual-extreme-key fixture: N_RESID rows inside ~0.07 arcsec, one
# cell at every probe level, so its N_RESID^2 pairs meet in one cell
# REGARDLESS of level; the cogroup splits that cell's left rows over
# ceil(pairs / PAIR_BUDGET) hash groups and replicates its right rows
N_RESID = int(os.environ.get("KNN_PROBE_RESID", "12000"))
RESID_R = 1e-5       # deg half-width (~0.04 arcsec: no cell straddle)
# 0.05-deg half-width: the whole clump fits in ~one level-7 cell, so a
# fixed ladder's candidate join enumerates ~clump^2 pairs inside a
# single task — the genuinely-hot regime (a 0.2-deg box spreads over
# ~3 cells at level 7 and never leaves the window-sort-bound regime,
# where the fixed ladder is competitive)
CLUMP_R = 0.05       # deg half-width of the clump box
K = 5
FIXED_LEVELS = (7, 5, 3, 0)   # what the sparse field alone would want


def get_session(tag: str):
    from spatialindex_spark.plans.session import get_session as gs

    # every Python worker is a process: one core per CPU this process may
    # run on, not a fixed count
    cores = len(os.sched_getaffinity(0))
    spark = gs(app=f"knnskew-{tag}", cores=cores,
               shuffle_partitions=max(2 * cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sky(spark):
    u1 = (F.pmod(F.xxhash64(F.col("id") * 3 + 1), F.lit(10 ** 9))
          .cast("double") / 1e9)
    u2 = (F.pmod(F.xxhash64(F.col("id") * 3 + 2), F.lit(10 ** 9))
          .cast("double") / 1e9)
    field = (spark.range(0, N_FIELD, 1, 64)
             .select(F.col("id").alias("pid"),
                     (u1 * 360.0).alias("ra"),
                     (F.degrees(F.asin(u2 * 1.6 - 0.8))).alias("dec")))
    clump = (spark.range(N_FIELD, N_FIELD + N_CLUMP, 1, 8)
             .select(F.col("id").alias("pid"),
                     (40.0 + (u1 * 2 - 1) * CLUMP_R).alias("ra"),
                     (10.0 + (u2 * 2 - 1) * CLUMP_R).alias("dec")))
    return field.unionByName(clump).localCheckpoint(eager=True)


def resid_sky(spark):
    u1 = (F.pmod(F.xxhash64(F.col("id") * 3 + 1), F.lit(10 ** 9))
          .cast("double") / 1e9)
    u2 = (F.pmod(F.xxhash64(F.col("id") * 3 + 2), F.lit(10 ** 9))
          .cast("double") / 1e9)
    field = (spark.range(0, N_FIELD, 1, 64)
             .select(F.col("id").alias("pid"),
                     (u1 * 360.0).alias("ra"),
                     (F.degrees(F.asin(u2 * 1.6 - 0.8))).alias("dec")))
    resid = (spark.range(N_FIELD, N_FIELD + N_RESID, 1, 8)
             .select(F.col("id").alias("pid"),
                     (40.0 + (u1 * 2 - 1) * RESID_R).alias("ra"),
                     (10.0 + (u2 * 2 - 1) * RESID_R).alias("dec")))
    return field.unionByName(resid).localCheckpoint(eager=True)


def run(tag: str, sky_fn=None, **kw):
    """One isolated knn_join run: its time, row count, checksum, and the
    number of split cells over all rungs."""
    from spatialindex_spark.operators import knn as knn_mod
    from spatialindex_spark.operators.knn import knn_join

    spark = get_session(tag)
    try:
        pts = (sky_fn or sky)(spark)
        t0 = time.perf_counter()
        out = knn_join(pts, pts, k=K, left_id="pid", right_id="pid",
                       exclude_self=True, on_starved="exact", **kw)
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(F.col("pid_l"), F.col("pid_r"),
                                    F.col("knn_rank")),
                         F.lit(10 ** 9))).alias("chk")).collect()[0]
        secs = time.perf_counter() - t0
    finally:
        spark.stop()
    rungs = knn_mod._DECISIONS["rungs"]
    return {"config": tag, "secs": round(secs, 2),
            "rows": agg["n"], "checksum": int(agg["chk"]),
            "rungs": [r["level"] for r in rungs],
            "split_cells": sum(r["split_cells"] for r in rungs),
            "max_group_pairs": max(r["max_group_pairs"] for r in rungs)}


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    art = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench_artifacts")
    os.makedirs(art, exist_ok=True)
    path = os.path.join(art, "knn_skew_probe.json")
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)

    if mode in ("all", "clump"):
        results = [
            run("auto_levels", level=8, auto_levels=True),
            run("fixed_ladder", level=FIXED_LEVELS[0], levels=FIXED_LEVELS),
        ]
        assert all(r["rows"] == K * (N_FIELD + N_CLUMP) for r in results)
        assert len({r["checksum"] for r in results}) == 1, \
            "configs disagree on the result"
        out.update({
            "n_field": N_FIELD, "n_clump": N_CLUMP,
            "clump_halfwidth_deg": CLUMP_R,
            "k": K, "fixed_levels": list(FIXED_LEVELS),
            "measurement": "isolated session per config, single timed run",
            "results": results,
            "speedup_auto_over_fixed": round(
                results[1]["secs"] / results[0]["secs"], 2),
        })

    if mode in ("all", "resid"):
        # past any probe level's resolution: the clump is one cell on every
        # rung, so only the split bounds its task
        resid = [
            run("resid_auto_levels", sky_fn=resid_sky, auto_levels=True),
            run("resid_fixed_ladder", sky_fn=resid_sky,
                level=FIXED_LEVELS[0], levels=FIXED_LEVELS),
        ]
        assert all(r["rows"] == K * (N_FIELD + N_RESID) for r in resid)
        assert len({r["checksum"] for r in resid}) == 1, \
            "residual configs disagree on the result"
        assert all(r["split_cells"] >= 1 for r in resid), \
            "the residual extreme key was not split"
        for stale in ("resid_speedup_salted", "resid_big_n_field",
                      "resid_big_n", "resid_big_halfwidth_deg",
                      "resid_big_results", "resid_big_speedup_salted"):
            out.pop(stale, None)
        out.update({
            "resid_n_field": N_FIELD,
            "resid_n": N_RESID, "resid_halfwidth_deg": RESID_R,
            "resid_results": resid,
        })

    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
