"""Physical-plan discipline tests: the optimizations the engine depends on
at 100 TB must be visible in explain() output, not assumed.

- region joins broadcast the (small) covering side as a HASH join — never a
  BroadcastNestedLoopJoin (the naive BETWEEN-range join plan).
- cell predicates reach the parquet scan as PushedFilters, so row-group
  min/max statistics prune on the spt_ind clustering key.
- the ingest stage contains exactly ONE ArrowEvalPython (a Catalyst
  isnotnull pushdown used to duplicate it).
"""

import math
import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_region_join_is_broadcast_hash(spark):
    from spatialindex_spark.operators.joins import region_join
    from spatialindex_spark.sources.images import synth_images_indexed

    img = synth_images_indexed(spark, 500, level=7, systems=("htm",))
    regions = [{"region_id": 1, "kind": "cone", "ra": 10.0, "dec": 10.0,
                "radius": 5.0}]
    plan = _plan(region_join(img, regions, level=7))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # big side must not shuffle


def test_single_arrow_eval_in_ingest(spark):
    from spatialindex_spark.functions.udfs import with_spatial_columns
    from spatialindex_spark.operators.joins import region_join

    base = (spark.range(0, 1000)
            .withColumn("ra", (F.col("id") * F.lit(0.618034)) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * F.lit(0.381966)) % 1) - 1))))
    pts = with_spatial_columns(base, level=7, systems=("htm",))
    regions = [{"region_id": 1, "kind": "cone", "ra": 10.0, "dec": 10.0,
                "radius": 5.0}]
    plan = _plan(region_join(pts, regions, level=7))
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]


def test_cell_filter_pushdown_to_parquet(spark, tmp_path):
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.plans import write_clustered
    from spatialindex_spark.sources.images import synth_images_indexed

    p = str(tmp_path / "tab")
    img = synth_images_indexed(spark, 2000, level=7, systems=("htm",))
    write_clustered(img.select("image_id", "ra", "dec", "x", "y", "z", "spt_ind"),
                    p, num_partitions=4)
    df = spark.read.parquet(p)
    c = SpatialIndex().cone_search(129.4, 43.7, 1.0, mode=0, level=7,
                                   encoding=0, colname="spt_ind",
                                   as_constraints=True)
    plan = _plan(c.filter(df))
    i = plan.find("PushedFilters: [")
    assert i >= 0, plan[:1500]
    # spark truncates long filter lists; the spt_ind range conditions must
    # appear within the pushed-filter section
    assert "spt_ind" in plan[i:i + 300], plan[i:i + 300]


def test_crossmatch_cell_col_keeps_big_side_jvm(spark):
    """With an ingest-time cell column at a coarse match level (<=
    JVM_RING_MAX_LEVEL), the crossmatch plan is ENTIRELY JVM: the left
    side's ring-neighbor expansion rides a broadcast (pix -> ring cells)
    map instead of a pandas UDF — zero ArrowEvalPython (r2 verdict item
    10) — and both sides key on the guarded shiftright projection. Pairs
    equal the recompute path's."""
    from spatialindex_spark.operators.joins import crossmatch
    from spatialindex_spark.sources.images import synth_images_indexed

    img = synth_images_indexed(spark, 800, level=7, systems=("htm", "hpx"))
    # truncate the synth lineage so the plan under test is crossmatch's own
    data = (img.select("image_id", "ra", "dec", "hpx7")
            .localCheckpoint(eager=True))
    left = data.filter(F.abs(F.xxhash64("image_id")) % 20 == 0)
    cm = crossmatch(left, data, 0.5, cell_col="hpx7", cell_level=7)
    plan = _plan(cm)
    assert plan.count("ArrowEvalPython") == 0, plan[:2000]
    assert "BroadcastHashJoin" in plan
    ref = crossmatch(left.drop("hpx7"), data.drop("hpx7"), 0.5)
    got = set(map(tuple, cm.select("image_id_l", "image_id_r").collect()))
    want = set(map(tuple, ref.select("image_id_l", "image_id_r").collect()))
    assert got == want


def test_crossmatch_deep_cell_col_one_python_eval(spark):
    """Above JVM_RING_MAX_LEVEL the cell path's ring explode runs one
    pandas UDF over the ingest cell ancestors (match level 12 here), the
    right side stays a JVM key, and the pairs equal a numpy brute force.
    The patch straddles the z = 2/3 polar/equatorial boundary and RA 0.
    A left row with a null cell id gets no match keys, as on the map
    path's inner join."""
    import numpy as np

    from spatialindex_spark.functions.healpix import hpx_id
    from spatialindex_spark.operators.joins import (
        JVM_RING_MAX_LEVEL, crossmatch, pick_match_level)

    radius = 0.005
    assert pick_match_level(radius) == 12 > JVM_RING_MAX_LEVEL
    rng = np.random.default_rng(11)
    n = 3000
    ra = (rng.uniform(-0.5, 0.5, n)) % 360.0
    dec = rng.uniform(41.3, 42.3, n)
    cell = hpx_id(12, ra, dec)
    rows = [(i, float(a), float(d), int(c))
            for i, (a, d, c) in enumerate(zip(ra, dec, cell))]
    cat = spark.createDataFrame(rows, "id long, ra double, dec double, "
                                      "hpx12 long")
    null_cell = spark.createDataFrame(
        [(-1, float(ra[0]), float(dec[0]), None)], cat.schema)
    left = cat.filter(F.col("id") % 5 == 0).unionByName(null_cell)
    cm = crossmatch(left, cat, radius, cell_col="hpx12", cell_level=12)
    assert _plan(cm).count("ArrowEvalPython") == 1, _plan(cm)[:2000]

    rr, dr = np.radians(ra), np.radians(dec)
    li = np.arange(0, n, 5)
    dot = (np.cos(dr[li])[:, None] * np.cos(dr)[None, :]
           * np.cos(rr[li][:, None] - rr[None, :])
           + np.sin(dr[li])[:, None] * np.sin(dr)[None, :])
    cosr = math.cos(math.radians(radius))
    near = np.abs(dot - cosr) < 1e-12  # too close to call either way
    want = {(int(li[a]), int(b)) for a, b in zip(*np.nonzero(dot >= cosr))}
    unsure = {(int(li[a]), int(b)) for a, b in zip(*np.nonzero(near))}
    got = {(r.id_l, r.id_r) for r in cm.select("id_l", "id_r").collect()}
    assert len(want) > len(li)  # more than the self pairs
    assert got - unsure == want - unsure


def test_wholestage_codegen_on_geometry(spark):
    """The exact-geometry filter must stay inside whole-stage codegen."""
    from spatialindex_spark.functions.constraints import SpatialIndex

    base = (spark.range(0, 1000)
            .withColumn("ra", (F.col("id") * F.lit(0.618034)) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * F.lit(0.381966)) % 1) - 1))))
    rad = F.radians
    df = base.withColumns({
        "x": F.cos(rad("ra")) * F.cos(rad("dec")),
        "y": F.sin(rad("ra")) * F.cos(rad("dec")),
        "z": F.sin(rad("dec")),
    })
    c = SpatialIndex().cone_search(10.0, 10.0, 5.0, mode=0, level=7,
                                   encoding=0, colname="spt_ind",
                                   as_constraints=True)
    plan = _plan(df.filter(c.geom_column()))
    # executedPlan().toString() renders codegen stages as "*(N) Filter ..."
    assert "WholeStageCodegen" in plan or re.search(r"\*\(\d+\) Filter", plan), plan


def test_knn_cell_col_keeps_big_side_jvm(spark):
    from spatialindex_spark.operators.knn import knn
    from spatialindex_spark.sources.images import synth_images_indexed

    img = synth_images_indexed(spark, 800, level=7, systems=("htm", "hpx"))
    data = (img.select("image_id", "ra", "dec", "hpx7")
            .localCheckpoint(eager=True))
    q = spark.createDataFrame(
        [(i, float(i * 37.0 % 360), float((i * 11.0) % 100 - 50))
         for i in range(8)], "query_id long, ra double, dec double")
    out = knn(q, data, k=5, level=4, rings=1, tiebreak="image_id",
              cell_col="hpx7", cell_level=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # only the tiny query side computes cells in Python
    assert plan.count("ArrowEvalPython") <= 1, plan[:2000]
    ref = knn(q, data.drop("hpx7"), k=5, level=4, rings=1,
              tiebreak="image_id")
    got = set(map(tuple, out.select("query_id", "image_id").collect()))
    want = set(map(tuple, ref.select("query_id", "image_id").collect()))
    assert got == want


def test_cell_equijoin_is_sort_merge_for_large_sides(spark):
    """J2: tile-to-tile matches shuffle both sides on the coarse cell prefix
    and sort-merge join (the scalable plan for large-large); verified by
    disabling broadcast to model two >threshold tables."""
    from spatialindex_spark.operators.joins import cell_equijoin
    from spatialindex_spark.sources.images import synth_images_indexed

    img = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    a = img.select("image_id", "spt_ind")
    b = img.select(F.col("image_id").alias("other_id"), "spt_ind")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(cell_equijoin(a, b, level_from=7, level_to=4))
        assert "SortMergeJoin" in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_knn_join_plan_no_big_broadcast(spark, monkeypatch):
    """knn_join's plan promise at scale: no executed plan holds a
    CartesianProduct or a BroadcastNestedLoopJoin, even with broadcast
    joins disabled; each rung is exactly one FlatMapCoGroupsInPandas (the
    cell-local top-k, both sides shuffled into it); and with ingest-time
    cell columns at a JVM ring level (<= 8) the ring explode stays in the
    JVM, so no plan has a Python eval. Every rung's output is
    checkpointed, so the plan of every checkpointed frame is recorded,
    not only the final one."""
    from spatialindex_spark.operators import knn as knn_mod
    from spatialindex_spark.operators.knn import knn_join
    from spatialindex_spark.sources.images import synth_images_indexed

    img = (synth_images_indexed(spark, 600, level=7, systems=("htm", "hpx"))
           .select("image_id", "ra", "dec", "hpx7")
           .localCheckpoint(eager=True))
    plans = []
    frame_cls = type(img)
    checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = knn_join(img, img, k=3, level=3, levels=(3, 1),
                       left_id="image_id", right_id="image_id",
                       cell_col="hpx7", cell_level=7,
                       exclude_self=True, on_starved="exact")
        final = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    rungs = [p for p in plans if "FlatMapCoGroupsInPandas" in p]
    assert len(rungs) == len(knn_mod._DECISIONS["rungs"]) >= 1, plans
    for plan in rungs:
        assert plan.count("FlatMapCoGroupsInPandas") == 1, plan[:2000]
    # the exact pass for starved rows is one more cogroup, in the output
    assert final.count("FlatMapCoGroupsInPandas") == (
        1 if knn_mod._DECISIONS["starved"] else 0), final[:2000]
    for plan in plans + [final]:
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "ArrowEvalPython" not in plan, plan[:2000]
        assert "BatchEvalPython" not in plan


def test_minhash_verify_stage_never_shuffles_text(spark):
    """VERDICT r1 #2 'Done' criterion: the minhash verify stage must not
    ship the text column through any exchange and must not re-shingle in
    Python. The full dedup plan (signatures -> bands -> candidate pairs ->
    array_intersect verify) may evaluate the one shingle+sig UDF, but the
    raw text column must not appear in any Exchange, and no second Python
    eval (the old jaccard_udf) may exist downstream of the band shuffle."""
    from spatialindex_spark.operators.dedup import (
        minhash_lsh_pairs, minhash_verified_pairs, pick_bands)

    docs = spark.createDataFrame(
        [(i, f"document body {i % 7} " * 12) for i in range(200)],
        "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, threshold=0.9).localCheckpoint(eager=True)
    verified = minhash_verified_pairs(docs, pairs, "text", "doc_id", 5, 0.9)
    plan = verified._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, f"text column crosses a shuffle: {line}"
    # the only Python evals are the shingle UDF over the broadcast-semi-
    # joined PARTICIPANTS (one per join side); the old per-pair jaccard_udf
    # took TWO text columns — assert no eval consumes two text args, and
    # every eval sits above the participants broadcast join (never a bare
    # corpus scan feeding Python)
    assert "BatchEvalPython" not in plan  # row-at-a-time Python never
    for line in plan.splitlines():
        if "ArrowEvalPython" in line:
            assert line.count("text") <= 1, f"per-pair text UDF: {line}"
    # no cartesian/nested-loop anywhere in band+verify (the participant
    # semi-join is materialized inside the checkpointed P; the remaining
    # pair joins are equi-joins that AQE broadcast-converts at runtime)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_ops_shuffle_discipline(spark):
    """New pipeline operators keep their promised plan shapes:
    - seq_pack / source_cap / sessionize: exactly ONE Exchange (the
      window/rank shuffle on the shard/source/user key);
    - stratified_sample: NO Exchange at all (pure filter);
    - region_join mode=S2: broadcast hash join, no nested loop."""
    from spatialindex_spark.operators.asof import sessionize
    from spatialindex_spark.operators.packing import pack_sequences
    from spatialindex_spark.operators.sampling import (cap_per_source,
                                                       stratified_sample)

    docs = (spark.range(0, 2000)
            .select(F.col("id").alias("doc_id"),
                    (F.col("id") % 7).cast("string").alias("source"),
                    (F.col("id") % 300 + 1).alias("ws_tokens")))

    p = _plan(pack_sequences(docs, tokens_col="ws_tokens", ctx_len=256,
                             shard_col="source"))
    assert p.count("Exchange") == 1, p[:1500]

    p = _plan(cap_per_source(docs, n=5))
    assert p.count("Exchange") == 1, p[:1500]

    p = _plan(stratified_sample(docs, {"0": 0.5}, default_fraction=0.2))
    assert p.count("Exchange") == 0, p[:1500]

    ev = (spark.range(0, 2000)
          .select(F.col("id").alias("event_id"),
                  (F.col("id") % 50).alias("user_id"),
                  F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts")))
    p = _plan(sessionize(ev))
    assert p.count("Exchange") == 1, p[:1500]


def test_region_join_s2_plan(spark):
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.functions.udfs import s2_udf, with_spatial_columns
    from spatialindex_spark.operators.joins import region_join

    base = (spark.range(0, 1000)
            .withColumn("ra", (F.col("id") * F.lit(0.618034)) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * F.lit(0.381966)) % 1) - 1))))
    pts = with_spatial_columns(base, level=7, systems=("htm",)) \
        .withColumn("spt_ind", s2_udf(7, curve="hilbert")("x", "y", "z"))
    regions = [{"region_id": 1, "kind": "cone", "ra": 10.0, "dec": 10.0,
                "radius": 5.0}]
    plan = _plan(region_join(pts, regions, level=7, mode=SpatialIndex.S2))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_region_join_shuffle_strategy(spark):
    """strategy="shuffle" (the million-region regime) must produce the
    identical result with NO broadcast of the region side — sort-merge /
    shuffled-hash equi-joins, never a nested loop."""
    from spatialindex_spark.functions.udfs import with_spatial_columns
    from spatialindex_spark.operators.joins import region_join

    base = (spark.range(0, 2000)
            .withColumn("ra", (F.col("id") * F.lit(0.618034)) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * F.lit(0.381966)) % 1) - 1))))
    pts = with_spatial_columns(base, level=7, systems=("htm",))
    regions = [{"region_id": i, "kind": "cone",
                "ra": 10.0 + 40.0 * i, "dec": -30.0 + 20.0 * i,
                "radius": 8.0} for i in range(4)]
    out_b = region_join(pts, regions, level=7, strategy="broadcast")
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_s = region_join(pts, regions, level=7, strategy="shuffle")
        plan = _plan(out_s)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    # with auto-broadcast off and no hint, both joins must go shuffle-side
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    a = {(r.region_id, r.id) for r in out_b.select("region_id", "id").collect()}
    b = {(r.region_id, r.id) for r in out_s.select("region_id", "id").collect()}
    assert a == b and a


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed join (J2 at rest): two tables written with
    write_bucketed on the same cell key and bucket count must join as a
    SortMergeJoin with ZERO Exchange and ZERO Sort — the shape that
    removes the dominant shuffle of repeated catalog-to-catalog joins at
    100 TB. Also checks the join result matches a plain join."""
    from spatialindex_spark.plans.session import (bucketed_cell_join,
                                                  write_bucketed)
    from spatialindex_spark.sources.images import synth_images_indexed

    import shutil

    img = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    a = img.select("image_id", "spt_ind", "ra")
    b = img.select(F.col("image_id").alias("other_id"), "spt_ind", "dec")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("buck_a", "buck_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)  # orphaned location
    write_bucketed(a, "buck_a", "spt_ind", num_buckets=8)
    write_bucketed(b, "buck_b", "spt_ind", num_buckets=8)

    # model two BIG tables (the regime bucketing exists for): with
    # broadcast available, tiny test tables would be broadcast instead and
    # the planner rightly skips the bucketed scan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # propagate the on-disk sort order (sound: write_bucketed emits ONE
        # file per bucket; Spark 3+ hides scan ordering by default because
        # multi-file buckets are only file-wise sorted)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        j = bucketed_cell_join(spark, "buck_a", "buck_b", "spt_ind")
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan, plan[:1500]
        # bucket-sorted on write: no Sort operator either
        assert "Sort " not in plan.replace("SortMergeJoin", ""), plan[:1500]
        want = a.join(b, "spt_ind").count()
        assert j.count() == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")


def test_zorder_cell_time_rowgroup_pruning(spark, tmp_path):
    """The survey query shape (sky region AND epoch window) must prune
    parquet row groups on BOTH predicates under Z-order clustering.
    Measured on real file metadata: the touched-row-group fraction for a
    time-narrow query is far smaller than under cell-only clustering
    (where every row group spans the whole time axis), and correctness
    is identical."""
    import glob

    import pyarrow.parquet as pq

    from spatialindex_spark.plans.session import (cluster_by_cell,
                                                  cluster_by_cell_time)

    day = 86_400_000_000
    rows = (spark.range(0, 40_000)
            .select((F.col("id") % 512).alias("cell"),
                    ((F.col("id") * 2654435761) % (64 * day)).alias("t_us")))
    p_cell = str(tmp_path / "cell_only")
    p_z = str(tmp_path / "zorder")
    opts = {"parquet.block.size": str(64 * 1024)}  # many small row groups
    (cluster_by_cell(rows, "cell", num_partitions=4)
     .write.options(**opts).parquet(p_cell))
    (cluster_by_cell_time(rows, "cell", "t_us", t_bucket_us=day,
                          cell_bits=9, t_bits=6,
                          num_partitions=4)
     .write.options(**opts).parquet(p_z))

    def touched(path, cell_lo, cell_hi, t_lo, t_hi):
        tot = hit = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = {md.schema.column(i).name: i
                  for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                cs = rg.column(ci["cell"]).statistics
                ts = rg.column(ci["t_us"]).statistics
                tot += 1
                if (cs.min <= cell_hi and cs.max >= cell_lo
                        and ts.min < t_hi and ts.max >= t_lo):
                    hit += 1
        return hit, tot

    # the transient-scan shape: whole sky, narrow epoch window. A
    # cell-sorted layout leaves every row group spanning the full time
    # axis (the time cut prunes nothing); the Z-curve bounds the time
    # extent of every row group.
    q_time = (0, 511, 5 * day, 9 * day)
    hz, tz = touched(p_z, *q_time)
    hc, tc = touched(p_cell, *q_time)
    assert tz > 8 and tc > 8          # enough row groups to mean anything
    assert hc / tc > 0.9              # cell sort cannot prune a time cut
    assert hz / tz < 0.5 * (hc / tc), (hz, tz, hc, tc)

    # the cell-narrow shape must not be catastrophically worse under Z:
    # the curve trades ~2x looser cell extents for the time bound
    q_cell = (100, 160, 0, 64 * day)
    hzc, tzc = touched(p_z, *q_cell)
    hcc, tcc = touched(p_cell, *q_cell)
    assert hzc / tzc <= 3.0 * max(hcc / tcc, 1.0 / tcc), \
        (hzc, tzc, hcc, tcc)

    # identical answers through both layouts
    pred = ((F.col("cell").between(100, 160))
            & (F.col("t_us") >= 5 * day) & (F.col("t_us") < 9 * day))
    a = spark.read.parquet(p_z).filter(pred).count()
    b = spark.read.parquet(p_cell).filter(pred).count()
    assert a == b and a > 0


def test_cosine_zero_vector_never_ranks_first(spark):
    """A zero embedding used to score NaN cosine (0/0), and Spark orders
    NaN above every double — so the zero vector ranked first in every
    top-k and NaN >= threshold held in the dedup filter. With the
    norm-product floor it scores 0.0: below real positive matches,
    never past a positive threshold (regression for _cosine_col)."""
    import numpy as np

    from spatialindex_spark.operators.similarity import (
        brute_force_topk, embedding_cosine_dedup)

    dim = 8
    rng = np.random.default_rng(5)
    vecs = [(i, [float(x) for x in rng.normal(size=dim)])
            for i in range(20)]
    vecs.append((99, [0.0] * dim))               # the zero vector
    vecs.append((100, list(vecs[0][1])))         # exact dup of vec 0
    data = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, vecs[0][1])],
                              "query_id long, embedding array<double>")
    top = brute_force_topk(q, data, k=3).collect()
    ranked = [r.vec_id for r in sorted(top, key=lambda r: r.rank)]
    assert 99 not in ranked            # NaN used to put it at rank 1
    assert set(ranked[:2]) == {0, 100}
    # dedup: the zero vector must neither be dropped nor drop bandmates
    kept = {r.vec_id for r in embedding_cosine_dedup(
        data, dim=dim, threshold=0.9).select("vec_id").collect()}
    assert 99 in kept and 0 in kept and 100 not in kept


def test_sampling_negative_ids_and_null_source(spark):
    """Two sampling edge cases from the review pass: (a) Spark % follows
    the dividend's sign, so negative ids (xxhash64-derived) used to pass
    the `hash % 10000 < thr` keep-rule at ANY fraction — pmod fixes the
    realized fraction; (b) a NULL source value crashed temperature_mix's
    driver sort."""
    from spatialindex_spark.operators.sampling import (
        stratified_sample, temperature_mix)

    rows = [(i if i % 2 == 0 else -i, "s0") for i in range(1, 4001)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = stratified_sample(df, {"s0": 0.0}).count()
    assert kept == 0                   # was ~half (every negative id)
    frac = stratified_sample(df, {"s0": 0.25}).count() / 4000
    assert 0.2 < frac < 0.3            # negative ids hash uniformly now

    nulls = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")],
        "doc_id long, source string")
    out = temperature_mix(nulls, temperature=0.5, target_rows=5)
    assert out.count() >= 0            # used to TypeError on the driver


def test_pick_bands_non_power_of_two():
    """pick_bands must search every divisor: at num_perm=48, t=0.5 the
    best S-curve midpoint is b=12 (t*~0.537) — the old power-of-two walk
    could only reach b=8 (t*~0.707)."""
    from spatialindex_spark.operators.dedup import pick_bands

    assert pick_bands(48, 0.5) == 12
    assert pick_bands(64, 0.5) == 16   # power-of-two behavior unchanged


def test_minhash_signature_runs_once_above_repartition(spark):
    """The fused sig+fold UDF must evaluate ONCE, parallelized ABOVE the
    round-robin repartition: the old two-UDF chain's nullness filter got
    cloned by the optimizer and pushed a second full signature pass
    below the exchange — into the single pre-repartition scan task."""
    import io
    import re
    from contextlib import redirect_stdout

    import pandas as pd

    from spatialindex_spark.operators.dedup import _folded_pairs, pick_bands

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(40),
        "text": [f"document number {i} with some shared text" for i in range(40)],
    })).repartition(1)
    pairs = _folded_pairs(docs, "text", "doc_id", 64,
                          pick_bands(64, 0.9), 5, False)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    plan = buf.getvalue()
    tree = plan[:plan.find("(1) ")]
    arrows = [int(m) for m in re.findall(r"ArrowEvalPython \((\d+)\)", tree)]
    exchanges = {}
    for m in re.finditer(r"\((\d+)\) Exchange\nInput.*?\nArguments: (\w+)",
                         plan):
        exchanges[int(m.group(1))] = m.group(2)
    rr = [nid for nid, kind in exchanges.items()
          if kind == "RoundRobinPartitioning"]
    assert rr, f"expected a parallelizing repartition; got {exchanges}"
    # formatted-plan ids number bottom-up: every Arrow eval must sit
    # ABOVE (= higher id than) some round-robin exchange in its branch,
    # and there must be exactly one Arrow eval per union branch (3
    # branches: cold + hot-left + hot-right, deduped at runtime by
    # exchange reuse)
    assert len(arrows) <= 3, tree
    assert all(a > min(rr) for a in arrows), (arrows, rr)
