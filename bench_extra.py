"""Round-6 measurement harness (guide §1). NOT the driver bench.

Replicates bench.py's query definitions exactly (bench.py is frozen for
measurement) but runs them one at a time with:

  * per-query job descriptions (guide §1.5),
  * warm + N timed passes (same steady-state methodology as bench.py),
  * optional .explain("formatted") capture to plans/r06/<q>_<tag>.txt.

Usage:
  python bench_extra.py --only knn_join --sf1 --passes 2 --explain before
  python bench_extra.py --only crossmatch,knn --explain before
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import bench  # frozen driver harness: reuse its constants + generators

SF_DIR = bench.SF_DIR
PLANS_DIR = os.environ.get(
    "SPT_PLANS_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)),
                 "plans", "r06"))


def capture_plan(df, name: str, tag: str) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as f:
        f.write(buf.getvalue())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--sf1", action="store_true",
                    help="run against the 1M-image table")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default="",
                    help="tag: capture explain('formatted') to plans/r06/")
    ap.add_argument("--plan-only", action="store_true",
                    help="capture plans without timing passes")
    args = ap.parse_args()
    only = set(filter(None, args.only.split(",")))

    spark = bench.get_session(bench.CPUS)
    bench._GC_SESSION = spark
    if args.sf1:
        path = "/tmp/spark_graft_bench_images_sf1.0"
        bench.build_image_table(spark, 1_000_000, path)
    else:
        path = bench.IMG_TABLE
        bench.build_image_table(spark)
    images = spark.read.parquet(path)
    images.count()

    # --- query definitions: byte-for-byte the bench.py bodies -------------
    def headline(img):
        return bench.headline_job(spark, img)

    from spatialindex_spark.functions.udfs import with_spatial_columns

    def ingest(img):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        df = (li.withColumn("ra", (F.col("l_orderkey") * F.lit(0.618034)) % 360)
                .withColumn("dec", F.degrees(F.asin(
                    2 * ((F.col("l_partkey") * F.lit(0.381966)) % 1) - 1))))
        return with_spatial_columns(df, level=7, systems=("htm", "hpx")) \
            .agg(F.count(F.lit(1))).collect()[0][0]

    from spatialindex_spark.functions.constraints import SpatialIndex

    def cone(img):
        c = SpatialIndex().cone_search(129.4, 43.7, 5.0, mode=0, level=7,
                                       encoding=0, colname="spt_ind",
                                       as_constraints=True)
        return c.filter(img).count()

    from spatialindex_spark.operators.joins import crossmatch

    def xmatch_df(img):
        sample = (img.select("image_id", "ra", "dec", "hpx7")
                  .filter(F.abs(F.xxhash64("image_id")) % 50 == 0))
        return crossmatch(sample, img.select("image_id", "ra", "dec", "hpx7"),
                          0.05, cell_col="hpx7", cell_level=7)

    def xmatch(img):
        return xmatch_df(img).count()

    from spatialindex_spark.operators.knn import knn, knn_join

    def knn_df(img):
        q = spark.createDataFrame(
            [(i, float(i * 13.7 % 360), float((i * 7.3) % 120 - 60))
             for i in range(64)],
            "query_id long, ra double, dec double")
        return knn(q, img.select("image_id", "ra", "dec", "hpx7"), k=10,
                   level=4, rings=1, tiebreak="image_id",
                   cell_col="hpx7", cell_level=7)

    def run_knn(img):
        return knn_df(img).count()

    def knn_join_df(img):
        side = img.select("image_id", "ra", "dec", "hpx7")
        return knn_join(side, side, k=3, auto_levels=True,
                        left_id="image_id", right_id="image_id",
                        cell_col="hpx7", cell_level=7,
                        exclude_self=True, on_starved="exact")

    def run_knn_join(img):
        return knn_join_df(img).count()

    from spatialindex_spark.operators.cutouts import cutout_windows

    def _targets(img):
        n = img.count()
        return (img.filter(F.abs(F.xxhash64("image_id")) % (n // 512 + 1)
                           == 0)
                .select(F.xxhash64("image_id").alias("target_id"),
                        ((F.col("ra") + 0.003) % 360).alias("ra"),
                        F.greatest(F.lit(-89.9), F.least(
                            F.lit(89.9), F.col("dec") + 0.003)).alias("dec"))
                .limit(512).localCheckpoint(eager=True))

    def cutout_df(img):
        tg = _targets(img)
        return cutout_windows(
            tg, img.select("image_id", "ra", "dec", "w", "h", "hpx7"),
            0.01, 16, max_dim_px=64, cell_col="hpx7", cell_level=7)

    def run_cutout(img):
        return cutout_df(img).count()

    from spatialindex_spark.operators.detect import forced_photometry

    def phot_df(img):
        tg = _targets(img)
        return forced_photometry(tg, img, 0.01, 2, max_dim_px=64,
                                 cell_col="hpx7", cell_level=7)

    def run_phot(img):
        return phot_df(img).count()

    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    def dedup_df(img):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return minhash_lsh_dedup(docs, threshold=0.9)

    def dedup(img):
        return dedup_df(img).count()

    from spatialindex_spark.operators.similarity import brute_force_topk

    def ann_df(img):
        emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
               .withColumn("embedding",
                           F.col("embedding").cast("array<double>")))
        q = (emb.filter(F.col("vec_id") < 8)
                .select(F.col("vec_id").alias("query_id"), "embedding"))
        return brute_force_topk(q, emb, k=10)

    def ann(img):
        return ann_df(img).count()

    queries = {
        "spatial_join_tiles": (headline, None),
        "ingest_index": (ingest, None),
        "cone_search": (cone, None),
        "crossmatch": (xmatch, xmatch_df),
        "knn": (run_knn, knn_df),
        "knn_join": (run_knn_join, knn_join_df),
        "cutout": (run_cutout, cutout_df),
        "photometry": (run_phot, phot_df),
        "minhash_dedup": (dedup, dedup_df),
        "ann_brute": (ann, ann_df),
    }

    results = {}
    for name, (fn, dfn) in queries.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"r06:{name}")
        if args.explain and dfn is not None:
            capture_plan(dfn(images), name, args.explain)
        if args.plan_only:
            continue
        spark._jvm.System.gc()
        fn(images)  # warm
        samples = []
        for _ in range(args.passes):
            t0 = time.perf_counter()
            fn(images)
            samples.append(round(time.perf_counter() - t0, 3))
        results[name] = {"min": min(samples), "samples": samples}
        print(f"[{name}] {results[name]}", flush=True)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"sf1": args.sf1, "results": results}))


if __name__ == "__main__":
    main()
