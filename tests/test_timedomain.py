"""Time-domain operators: tracklets and lightcurves vs numpy/pandas brute
force, anti_crossmatch complement identity, and knn_join's rank plan
shape, residual salting and density drill-down."""

import math

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F

from spatialindex_spark.operators.joins import anti_crossmatch, crossmatch
from spatialindex_spark.operators.timedomain import lightcurves, tracklets


def _sky(rng, n):
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-0.99, 0.99, n)))
    return ra, dec


def _sep_deg(ra1, dec1, ra2, dec2):
    d1, d2 = np.radians(dec1), np.radians(dec2)
    dot = (np.cos(d1) * np.cos(d2) * np.cos(np.radians(ra1 - ra2))
           + np.sin(d1) * np.sin(d2))
    return np.degrees(np.arccos(np.clip(dot, -1, 1)))


def test_anti_crossmatch_is_complement(spark):
    rng = np.random.default_rng(7)
    lra, ldec = _sky(rng, 300)
    rra, rdec = _sky(rng, 150)
    left = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(300), "ra": lra, "dec": ldec,
                      "payload": [f"p{i}" for i in range(300)]}))
    right = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(150), "ra": rra, "dec": rdec}))
    radius = 3.0
    anti = set(r.lid for r in
               anti_crossmatch(left, right, radius, left_id="lid").collect())
    matched = set(r.lid_l for r in
                  crossmatch(left, right, radius).collect())
    assert anti == set(range(300)) - matched
    # brute-force ground truth
    sep = _sep_deg(lra[:, None], ldec[:, None], rra[None, :], rdec[None, :])
    truth = set(np.where(~(sep <= radius).any(axis=1))[0].tolist())
    assert anti == truth
    # payload columns survive the anti join untouched
    row = anti_crossmatch(left, right, radius, left_id="lid") \
        .orderBy("lid").limit(1).collect()
    if row:
        assert row[0].payload == f"p{row[0].lid}"


def test_tracklets_match_brute_force(spark):
    rng = np.random.default_rng(11)
    n_obj, epochs = 60, 4
    base_ra, base_dec = _sky(rng, n_obj)
    vra = rng.uniform(-0.2, 0.2, n_obj)
    vdec = rng.uniform(-0.2, 0.2, n_obj)
    rows = []
    for i in range(n_obj):
        for e in range(epochs):
            rows.append((i * 10 + e,
                         (base_ra[i] + vra[i] * e) % 360,
                         float(np.clip(base_dec[i] + vdec[i] * e,
                                       -89.9, 89.9)),
                         float(e)))
    det = pd.DataFrame(rows, columns=["det_id", "ra", "dec", "t_days"])
    sdf = spark.createDataFrame(det)
    speed, dt_max = 0.5, 1.5
    got = (tracklets(sdf, speed, dt_max, det_id="det_id",
                     time_col="t_days")
           .orderBy("det_a", "det_b").toPandas())
    # brute force over all ordered pairs
    a = det.merge(det, how="cross", suffixes=("_a", "_b"))
    dt = a["t_days_b"] - a["t_days_a"]
    sep = _sep_deg(a["ra_a"].values, a["dec_a"].values,
                   a["ra_b"].values, a["dec_b"].values)
    keep = ((dt > 0) & (dt <= dt_max)
            & (a["det_id_a"] != a["det_id_b"])
            & (sep <= speed * dt))
    want = (a[keep][["det_id_a", "det_id_b"]]
            .sort_values(["det_id_a", "det_id_b"]).reset_index(drop=True))
    assert len(got) == len(want)
    assert (got["det_a"].values == want["det_id_a"].values).all()
    assert (got["det_b"].values == want["det_id_b"].values).all()
    # every same-object consecutive pair must be present (|v| < speed)
    expected_self = {(i * 10 + e, i * 10 + e + 1)
                     for i in range(n_obj) for e in range(epochs - 1)}
    got_pairs = set(zip(got["det_a"], got["det_b"]))
    assert expected_self <= got_pairs


def test_lightcurves_match_pandas(spark):
    rng = np.random.default_rng(13)
    n_obj = 40
    ora, odec = _sky(rng, n_obj)
    cat = spark.createDataFrame(
        pd.DataFrame({"obj": np.arange(n_obj), "ra": ora, "dec": odec}))
    rows = []
    for d in range(240):
        o = d % n_obj
        rows.append((d, ora[o] + rng.uniform(-1, 1) * 1e-4,
                     odec[o] + rng.uniform(-1, 1) * 1e-4,
                     round(float(rng.uniform(10, 5000)), 2),
                     pd.Timestamp("2025-01-01")
                     + pd.Timedelta(days=int(rng.integers(0, 300)))))
    det = pd.DataFrame(rows, columns=["det_id", "ra", "dec", "flux", "t"])
    sdf = spark.createDataFrame(det)
    got = (lightcurves(sdf, cat, 0.01, det_id="det_id", obj_id="obj",
                       flux_col="flux", time_col="t")
           .orderBy("obj").toPandas())
    # pandas reference: nearest object within radius, then agg
    sep = _sep_deg(det["ra"].values[:, None], det["dec"].values[:, None],
                   ora[None, :], odec[None, :])
    nearest = sep.argmin(axis=1)
    ok = sep[np.arange(len(det)), nearest] <= 0.01
    det2 = det[ok].copy()
    det2["obj"] = nearest[ok]
    det2["qf"] = np.round(det2["flux"] * 100).astype(np.int64)
    g = det2.groupby("obj")
    want = pd.DataFrame({
        "n_det": g.size(),
        "flux_mean": np.round(g["qf"].sum() / g.size() / 100, 6),
        "flux_min": g["qf"].min() / 100.0,
        "flux_max": g["qf"].max() / 100.0,
        "span_days": (g["t"].max().dt.normalize()
                      - g["t"].min().dt.normalize()).dt.days,
    }).reset_index()
    got = got.sort_values("obj").reset_index(drop=True)
    want = want.sort_values("obj").reset_index(drop=True)
    assert (got["obj"].values == want["obj"].values).all()
    assert (got["n_det"].values == want["n_det"].values).all()
    assert np.allclose(got["flux_mean"].values, want["flux_mean"].values)
    assert np.allclose(got["flux_min"].values, want["flux_min"].values)
    assert np.allclose(got["flux_max"].values, want["flux_max"].values)
    assert (got["span_days"].values == want["span_days"].values).all()
    assert np.allclose(got["flux_amp"].values,
                       (want["flux_max"] - want["flux_min"]).values)


def test_stream_transients_matches_batch(spark, tmp_path):
    """Streaming transient filter == batch anti_crossmatch on the same
    rows across two micro-batches (stateless stream-static LEFT ANTI
    join with the catalog side ring-exploded)."""
    from spatialindex_spark.functions.udfs import hpx_udf
    from spatialindex_spark.streaming.ingest import stream_transients

    cat_rows = [(int(i), float(i * 3.7 % 360), float((i * 7.3) % 160 - 80))
                for i in range(400)]
    catalog = (spark.createDataFrame(
        cat_rows, "cat_id long, ra double, dec double")
        .withColumn("hpx7", hpx_udf(7)("ra", "dec"))
        .localCheckpoint(eager=True))
    # half the detections sit on catalog rows (matched), half shifted
    # 5 deg away (transients at radius 0.5)
    det = []
    for i in range(60):
        ra = float(i * 3.7 % 360)
        dec = float((i * 7.3) % 160 - 80)
        if i % 2:
            ra = (ra + 5.0) % 360
            dec = max(-85.0, min(85.0, dec + 5.0))
        det.append((int(1000 + i), ra + 0.01, dec + 0.01))
    src = str(tmp_path / "dets")
    half = len(det) // 2
    for chunk in (det[:half], det[half:]):
        spark.createDataFrame(chunk, "det_id long, ra double, dec double") \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("det_id long, ra double, dec double").parquet(src)
              .withColumn("hpx7", hpx_udf(7)("ra", "dec")))
    out = stream_transients(stream, catalog, 0.5,
                            cell_col="hpx7", cell_level=7)
    q = (out.select("det_id").writeStream.outputMode("append")
         .format("memory").queryName("transients_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.det_id for r in
           spark.sql("SELECT * FROM transients_stream").collect()}

    det_batch = (spark.createDataFrame(
        det, "det_id long, ra double, dec double")
        .withColumn("hpx7", hpx_udf(7)("ra", "dec")))
    want = {r.det_id for r in
            anti_crossmatch(det_batch, catalog, 0.5, left_id="det_id",
                            cell_col="hpx7", cell_level=7)
            .select("det_id").collect()}
    assert got == want
    # the shifted half really is flagged, the unshifted half is not
    assert got == {1000 + i for i in range(60) if i % 2}


def test_rank_window_partial_group_limit(spark):
    """The mechanism that keeps the rank exchanges of best_match and
    knn() at O(k * rows) whatever the candidate count: Spark plans a
    row_number rank filter as WindowGroupLimit with a PARTIAL pass
    map-side, so each join task forwards <= k rows per left row to the
    rank exchange instead of every enumerated candidate."""
    a = (spark.range(1000)
         .select((F.col("id") % 97).alias("_mc"),
                 (F.col("id") % 7).alias("_lid")))
    b = (spark.range(5000)
         .select((F.col("id") % 97).alias("_mc"),
                 F.col("id").alias("_rid")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        w = Window.partitionBy("_lid").orderBy(F.col("_rid").asc())
        out = (a.join(b, "_mc")
               .withColumn("_rk", F.row_number().over(w))
               .filter(F.col("_rk") <= 2))
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    final = plan.split("== Initial Plan ==")[0]
    # the Partial group limit must sit BELOW the rank exchange
    assert "Partial" in final and "Final" in final, plan
    tail = final[final.find("Exchange hashpartitioning(_lid"):]
    assert "WindowGroupLimit" in tail and "Partial" in tail, plan


def test_knn_join_fixed_ladder_cell_path_correct(spark):
    """knn_join on a fixed (2, 0) ladder keyed by the ingest cell column:
    exactly k rows per left row and rank-1 matches brute force."""
    from spatialindex_spark.operators.knn import knn_join

    rng = np.random.default_rng(5)
    ra, dec = _sky(rng, 4000)
    df = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(4000), "ra": ra, "dec": dec}))
    from spatialindex_spark.functions.udfs import hpx_udf
    df = df.withColumn("hpx7", hpx_udf(7)(F.col("ra"), F.col("dec"))) \
           .localCheckpoint(eager=True)
    out = knn_join(df, df, k=2, level=2, levels=(2, 0),
                   left_id="pid", right_id="pid",
                   cell_col="hpx7", cell_level=7,
                   exclude_self=True, on_starved="exact")
    assert out.count() == 2 * 4000
    sep = _sep_deg(ra[:50, None], dec[:50, None], ra[None, :], dec[None, :])
    np.fill_diagonal(sep[:, :50], np.inf)
    want_first = sep.argmin(axis=1)
    got = {r.pid_l: r.pid_r for r in
           out.filter((F.col("pid_l") < 50) & (F.col("knn_rank") == 1))
           .collect()}
    assert len(got) == 50
    for i in range(50):
        assert got[i] == want_first[i]


def test_pm_crossmatch_matches_brute_force(spark):
    from spatialindex_spark.operators.timedomain import (pm_crossmatch,
                                                         propagate_epoch)

    rng = np.random.default_rng(23)
    n = 250
    mra, mdec = _sky(rng, n)
    mdec = np.clip(mdec, -80, 80)
    pm_ra = rng.uniform(-0.05, 0.05, n)
    pm_dec = rng.uniform(-0.05, 0.05, n)
    cra, cdec = _sky(rng, 400)
    movers = spark.createDataFrame(
        [(i, float(mra[i]), float(mdec[i]), float(pm_ra[i]), float(pm_dec[i]))
         for i in range(n)], "mid long, ra double, dec double, "
        "pm_ra double, pm_dec double")
    cat = spark.createDataFrame(
        [(j, float(cra[j]), float(cdec[j])) for j in range(400)],
        "cid long, ra double, dec double")
    dt = 10.0
    got = {(r["mid_l"], r["cid_r"]) for r in
           pm_crossmatch(movers, cat, 1.5, dt).collect()}

    ra2 = np.mod(mra + pm_ra * dt / np.cos(np.radians(mdec)), 360.0)
    dec2 = mdec + pm_dec * dt
    want = set()
    for i in range(n):
        sep = _sep_deg(ra2[i], dec2[i], cra, cdec)
        for j in np.nonzero(sep <= 1.5)[0]:
            want.add((i, int(j)))
    assert got == want and want  # non-trivial match set

    # pole guard: a mover whose propagated dec crosses the pole raises
    bad = spark.createDataFrame([(0, 10.0, 89.5, 0.0, 0.1)],
                                "mid long, ra double, dec double, "
                                "pm_ra double, pm_dec double")
    import pytest as _pt
    with _pt.raises(Exception, match="pole|assert"):
        propagate_epoch(bad, 10.0).collect()


def test_proper_motions_recovers_planted_mu(spark):
    """proper_motions recovers an exactly-planted linear drift: slope ==
    mu (positions built on an exact micro-deg lattice, zero dither), and
    with +-1-quantum dither the fit matches a numpy lstsq twin."""
    import numpy as np

    from pyspark.sql import functions as F
    from spatialindex_spark.operators.timedomain import proper_motions

    rng = np.random.default_rng(47)
    n_obj, n_ep = 40, 8
    ra0 = np.round(rng.uniform(10, 350, n_obj), 6)
    dec0 = np.round(rng.uniform(-80, 80, n_obj), 6)
    mu_a = rng.integers(-10, 11, n_obj)     # micro-deg / tick
    mu_d = rng.integers(-10, 11, n_obj)
    rows = []
    for o in range(n_obj):
        for e in range(n_ep):
            dith = int((o * 7 + e * 3) % 3) - 1
            rows.append((o * 100 + e,
                         float(ra0[o] + (mu_a[o] * e + dith) * 1e-6),
                         float(dec0[o] + (mu_d[o] * e + dith) * 1e-6),
                         e * 3_600_000_000))
    det = spark.createDataFrame(
        rows, "det_id long, ra double, dec double, t_us long")
    cat = spark.createDataFrame(
        [(o, float(ra0[o]), float(dec0[o])) for o in range(n_obj)],
        "obj_id long, ra double, dec double")
    got = {r.obj: r for r in proper_motions(
        det, cat, 0.01, det_id="det_id", obj_id="obj_id",
        time_col="t_us").collect()}
    assert len(got) == n_obj
    for o in range(n_obj):
        g = got[o]
        assert g.n_obs == n_ep
        # numpy twin over the quantized lattice
        t = np.arange(n_ep)
        ya = np.array([round((ra0[o] + (mu_a[o] * e
                       + ((o * 7 + e * 3) % 3) - 1) * 1e-6) * 1e6)
                       for e in range(n_ep)])
        A = np.stack([t, np.ones(n_ep)], 1)
        sl, ic = np.linalg.lstsq(A, ya.astype(float), rcond=None)[0]
        assert abs(g.pm_ra - sl / 1e6) < 1e-8, (o, g.pm_ra, sl / 1e6)
        assert abs(g.pm_ra - mu_a[o] * 1e-6) < 1.5e-6  # dither bound
        assert abs(g.pm_dec - mu_d[o] * 1e-6) < 1.5e-6
        assert abs(g.ra0 - ra0[o]) < 1e-4 and abs(g.dec0 - dec0[o]) < 1e-4
