"""Zone crossmatch, Lomb-Scargle periodogram, variability stats, and the
galactic frame transform."""

import math
import random

from pyspark.sql import functions as F


def _random_sky(rng, n, polar_frac=0.1, wrap_frac=0.1):
    """Random points with deliberate polar + RA-wrap clusters."""
    pts = []
    for i in range(n):
        u = rng.random()
        if u < polar_frac:
            ra, dec = rng.uniform(0, 360), rng.choice([1, -1]) * rng.uniform(87, 90)
        elif u < polar_frac + wrap_frac:
            ra = rng.choice([rng.uniform(0, 1.5), rng.uniform(358.5, 360)])
            dec = rng.uniform(-60, 60)
        else:
            ra = rng.uniform(0, 360)
            dec = math.degrees(math.asin(rng.uniform(-1, 1)))
        pts.append((i, ra, dec))
    return pts


def _brute_pairs(left, right, radius_deg):
    cosr = math.cos(math.radians(radius_deg))
    out = set()
    for i, ra1, d1 in left:
        for j, ra2, d2 in right:
            dot = (math.cos(math.radians(d1)) * math.cos(math.radians(d2))
                   * math.cos(math.radians(ra1) - math.radians(ra2))
                   + math.sin(math.radians(d1)) * math.sin(math.radians(d2)))
            if dot >= cosr:
                out.add((i, j))
    return out


def test_zone_crossmatch_matches_brute_and_cell(spark):
    from spatialindex_spark.operators.joins import crossmatch
    from spatialindex_spark.operators.zones import zone_crossmatch

    rng = random.Random(77)
    lpts = _random_sky(rng, 180)
    rpts = _random_sky(rng, 180)
    l = spark.createDataFrame(lpts, "id long, ra double, dec double")
    r = spark.createDataFrame(rpts, "id long, ra double, dec double")
    for radius in (0.9, 5.0):
        zp = {(a["id_l"], a["id_r"]) for a in
              zone_crossmatch(l, r, radius).collect()}
        assert zp == _brute_pairs(lpts, rpts, radius)
        cp = {(a["id_l"], a["id_r"]) for a in
              crossmatch(l, r, radius).collect()}
        assert zp == cp  # two independent strategies agree


def test_zone_crossmatch_plan_is_equi_join(spark):
    from spatialindex_spark.operators.zones import zone_crossmatch

    l = spark.range(100).select(
        F.col("id"), (F.col("id") * 0.618034 % 360).alias("ra"),
        (F.col("id") % 120 - 60.0).alias("dec"))
    plan = zone_crossmatch(l, l, 1.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the zone key must drive a real equi-join
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def _ls_numpy(rows, freqs, yq=100, tq=1_000_000):
    """Bit-parity replica of lomb_scargle's quantized pipeline."""
    import numpy as np

    out = {}
    t = np.array([r[0] for r in rows])
    y = np.array([r[1] for r in rows])
    for f in freqs:
        w = math.tau * f
        c = np.round(np.cos(w * t) * tq).astype(np.int64)
        s = np.round(np.sin(w * t) * tq).astype(np.int64)
        q = np.round(y * yq).astype(np.int64)
        n = len(rows)
        sy, syy = int(q.sum()), int((q * q).sum())
        c1, s1 = int(c.sum()), int(s.sum())
        yc, ys = int((q * c).sum()), int((q * s).sum())
        cc, ss, cs = int((c * c).sum()), int((s * s).sum()), int((c * s).sum())
        YC = yc - (sy * c1) / n
        YS = ys - (sy * s1) / n
        CC = cc - (c1 * c1) / n
        SS = ss - (s1 * s1) / n
        CS = cs - (c1 * s1) / n
        YY = syy - (sy * sy) / n
        D = CC * SS - CS * CS
        if D == 0 or YY == 0:
            out[f] = None
            continue
        num = SS * (YC * YC) - (2.0 * CS) * (YC * YS) + CC * (YS * YS)
        out[f] = round(num / (D * YY), 9)
    return out


def test_lomb_scargle_recovers_period_and_matches_numpy(spark):
    from spatialindex_spark.operators.timedomain import best_period, lomb_scargle

    rng = random.Random(5)
    true_f = 1.7
    rows = []
    for _ in range(300):
        t = rng.uniform(0, 40)
        y = 10.0 + 3.0 * math.sin(math.tau * true_f * t) + rng.gauss(0, 0.3)
        rows.append((round(t, 6), round(y, 2)))
    freqs = [0.5, 1.1, 1.7, 2.3, 3.1]
    df = spark.createDataFrame([(1, t, y) for t, y in rows],
                               "obj long, t double, y double")
    ls = lomb_scargle(df, "obj", "t", "y", freqs)
    got = {r["freq"]: r["power"] for r in ls.collect()}
    want = _ls_numpy(rows, freqs)
    assert got == want  # exact: quantized sums + identical IEEE tree
    assert got[true_f] > 0.9  # planted signal dominates
    bp = best_period(ls).collect()
    assert len(bp) == 1 and bp[0]["best_freq"] == true_f


def test_variability_stats_vs_numpy(spark):
    from spatialindex_spark.operators.timedomain import variability_stats

    rng = random.Random(9)
    data = []
    y0 = 5.0
    for i in range(120):
        y0 += 0.06  # obj 1: smooth trend
        data.append((1, float(i), round(y0, 2)))
        # obj 2: independent white noise around a constant level
        data.append((2, float(i), round(5.0 + rng.gauss(0, 0.5), 2)))
    df = spark.createDataFrame(data, "obj long, t double, y double")
    got = {r["key"]: r for r in
           variability_stats(df, "obj", "t", "y").collect()}
    for obj in (1, 2):
        q = [round(y * 100) for o, t, y in data if o == obj]
        n = len(q)
        sy, syy = sum(q), sum(v * v for v in q)
        sd2 = sum((b - a) ** 2 for a, b in zip(q, q[1:]))
        ssq = syy - (sy * sy) / n
        g = got[obj]
        assert g["n_obs"] == n
        assert g["mean_y"] == round((sy / n) / 100.0, 9)
        assert g["var_y"] == round((ssq / (n - 1)) / 10000.0, 9)
        assert g["amp_y"] == (max(q) - min(q)) / 100.0
        assert g["eta"] == round(sd2 / ssq, 9)
    # smooth trend vs noise: eta separates them (<<2 vs ~2)
    assert got[1]["eta"] < 0.5 < got[2]["eta"]


def test_equ_to_gal_known_points(spark):
    from spatialindex_spark.functions.geometry import equ_to_gal_cols

    # (ra, dec) -> (l, b): the defining directions of the frame
    cases = [
        (266.404996, -28.936172, 0.0, 0.0),    # galactic center direction
        (192.859508, 27.128336, None, 90.0),   # north galactic pole
        (86.404996, 28.936172, 180.0, 0.0),    # galactic anticenter
    ]
    df = spark.createDataFrame(
        [(i, ra, dec) for i, (ra, dec, _, _) in enumerate(cases)],
        "i long, ra double, dec double")
    glon, glat = equ_to_gal_cols(F.col("ra"), F.col("dec"))
    got = {r["i"]: (r["l"], r["b"]) for r in
           df.select("i", glon.alias("l"), glat.alias("b")).collect()}
    for i, (_, _, el, eb) in enumerate(cases):
        gl, gb = got[i]
        if el is not None:
            d = abs(gl - el) % 360.0
            assert min(d, 360.0 - d) < 0.01
        assert abs(gb - eb) < 0.01


def test_landy_szalay_matches_brute_force(spark):
    from spatialindex_spark.operators.correlation import landy_szalay

    rng = random.Random(41)
    # clustered data: half the points in three 1-deg clumps; uniform random
    data = []
    clumps = [(40.0, 10.0), (200.0, -30.0), (310.0, 55.0)]
    for i in range(240):
        if i % 2 == 0:
            cra, cdec = clumps[i % 3]
            data.append((i, cra + rng.uniform(-0.5, 0.5),
                         cdec + rng.uniform(-0.5, 0.5)))
        else:
            data.append((i, rng.uniform(0, 360),
                         math.degrees(math.asin(rng.uniform(-1, 1)))))
    rand = [(i, rng.uniform(0, 360),
             math.degrees(math.asin(rng.uniform(-1, 1))))
            for i in range(400)]
    d = spark.createDataFrame(data, "id long, ra double, dec double")
    r = spark.createDataFrame(rand, "id long, ra double, dec double")
    edges = [0.25, 0.5, 1.0, 2.0, 4.0]
    got = {row["bin"]: row for row in
           landy_szalay(d, r, edges, "id", "id").collect()}

    cos_edges = [math.cos(math.radians(e)) for e in edges]

    def binof(p, q):
        dot = (math.cos(math.radians(p[2])) * math.cos(math.radians(q[2]))
               * math.cos(math.radians(p[1]) - math.radians(q[1]))
               + math.sin(math.radians(p[2])) * math.sin(math.radians(q[2])))
        for i in range(len(cos_edges) - 1):
            if cos_edges[i + 1] < dot <= cos_edges[i]:
                return i
        return None

    def counts(a, b, self_excl):
        c = [0] * (len(edges) - 1)
        for p in a:
            for q in b:
                if self_excl and p[0] == q[0]:
                    continue
                i = binof(p, q)
                if i is not None:
                    c[i] += 1
        return c

    dd = counts(data, data, True)
    dr = counts(data, rand, False)
    rr = counts(rand, rand, True)
    nd, nr = len(data), len(rand)
    for i in range(len(edges) - 1):
        g = got[i]
        assert (g["n_dd"], g["n_dr"], g["n_rr"]) == (dd[i], dr[i], rr[i])
        if rr[i] > 0:
            ddn = dd[i] / (nd * (nd - 1))
            drn = dr[i] / (nd * nr)
            rrn = rr[i] / (nr * (nr - 1))
            assert g["w_ls"] == round((ddn - 2.0 * drn + rrn) / rrn, 9)
        else:
            assert g["w_ls"] is None
    # clustered data: strong positive correlation in the sub-clump bins
    populated = [got[i]["w_ls"] for i in range(3) if got[i]["w_ls"]]
    assert populated and max(populated) > 1.0


def test_stream_variability_across_batches(spark, tmp_path):
    """Cross-batch incremental moments: the stream's FINAL emission per
    key must equal the batch variability_stats on the union (successive
    differences chain across the batch boundary through the stored
    last_yq)."""
    from spatialindex_spark.operators.timedomain import variability_stats
    from spatialindex_spark.streaming.ingest import stream_variability

    rng = random.Random(23)
    batch1, batch2 = [], []
    for k in (1, 2, 3):
        for i in range(40):
            row = (k, float(i), round(rng.uniform(0, 20), 2))
            (batch1 if i < 25 else batch2).append(row)
    src = str(tmp_path / "var_in")
    schema = "user_id long, t double, y double"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_variability(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_var").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY n_obs DESC) AS rk FROM t_var) "
            "WHERE rk = 1").collect()
        got = {r["user_id"]: r for r in rows}
    finally:
        q.stop()
    want = {r["key"]: r for r in variability_stats(
        spark.createDataFrame(batch1 + batch2, schema),
        "user_id", "t", "y").collect()}
    assert set(got) == set(want)
    for k in want:
        for f in ("n_obs", "mean_y", "var_y", "amp_y", "eta"):
            assert got[k][f] == (want[k][f if f != "n_obs" else "n_obs"]), \
                (k, f, got[k][f], want[k][f])


def test_map_smooth_matches_numpy(spark):
    import numpy as np

    from spatialindex_spark.operators.counts import map_smooth
    from spatialindex_spark.functions.healpix import neighbors

    rng = random.Random(13)
    level, npix = 2, 12 << (2 * 2)
    pres = sorted(rng.sample(range(npix), 60))
    vals = {p: round(rng.uniform(0, 50), 2) for p in pres}
    df = spark.createDataFrame(list(vals.items()), "pix long, n double")
    got = {r["pix"]: (r["n_disc"], r["smooth"]) for r in
           map_smooth(df, level, quant=100).collect()}
    assert set(got) == set(pres)
    for p in pres:
        disc = set(neighbors(level, np.array([p]))[0].tolist()) | {p}
        present = [q for q in disc if q in vals]
        s = sum(round(vals[q] * 100) for q in present)
        assert got[p][0] == len(present)
        assert got[p][1] == round((s / len(present)) / 100.0, 9), p


def test_diff_image_matches_numpy_and_flags_shape(spark):
    import numpy as np
    import pandas as pd

    from spatialindex_spark.operators.detect import diff_image
    from spatialindex_spark.sources import imaging

    def mk(ids, seed, shapes):
        rows = []
        rng = random.Random(seed)
        for i in ids:
            w, h = shapes[i]
            img = np.array(
                [[[rng.randrange(256) for _ in range(3)]
                  for _ in range(w)] for _ in range(h)], dtype=np.uint8)
            rows.append((i, imaging.encode(img, "raw"), w, h, "raw", img))
        return rows

    shapes_a = {1: (8, 6), 2: (10, 10), 3: (4, 4)}
    shapes_b = {1: (8, 6), 2: (10, 10), 3: (5, 4)}  # id 3: mismatch
    ra = mk([1, 2, 3], 11, shapes_a)
    rb = mk([1, 2, 3], 22, shapes_b)
    schema = "image_id long, bytes binary, w int, h int, fmt string"
    a = spark.createDataFrame([r[:5] for r in ra], schema)
    b = spark.createDataFrame([r[:5] for r in rb], schema)
    got = {r["image_id"]: r for r in
           diff_image(a, b, threshold=30).collect()}
    for i in (1, 2):
        d = (ra[i - 1][5][:, :, 0].astype(np.int64)
             - rb[i - 1][5][:, :, 0].astype(np.int64))
        g = got[i]
        assert g["shape_ok"] and g["npix"] == d.size
        assert g["n_above"] == int((np.abs(d) > 30).sum())
        assert g["sum_abs"] == int(np.abs(d).sum())
        assert g["max_abs"] == int(np.abs(d).max())
        assert g["flux_diff"] == int(d.sum())
    assert got[3]["shape_ok"] is False and got[3]["sum_abs"] is None


def test_diff_image_bucketed_no_exchange(spark):
    """diff_image's one shuffle disappears over bucketed epoch tables:
    the pixel-carrying equi-join must plan with ZERO Exchange (the
    100-TB claim in its docstring)."""
    import shutil

    import numpy as np

    from spatialindex_spark.operators.detect import diff_image
    from spatialindex_spark.plans.session import write_bucketed
    from spatialindex_spark.sources import imaging

    def epoch(seed):
        rows = []
        for i in range(60):
            img = imaging.synth_image_photometric(i + seed, 8, 8)
            rows.append((i, imaging.encode(img, "raw"), 8, 8, "raw"))
        return spark.createDataFrame(
            rows, "image_id long, bytes binary, w int, h int, fmt string")

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("ep_a", "ep_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    write_bucketed(epoch(0), "ep_a", "image_id", num_buckets=4)
    write_bucketed(epoch(999), "ep_b", "image_id", num_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = diff_image(spark.table("ep_a"), spark.table("ep_b"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = {r["image_id"]: r for r in out.collect()}
        a0 = imaging.synth_image_photometric(5, 8, 8)
        b0 = imaging.synth_image_photometric(5 + 999, 8, 8)
        d = a0[:, :, 0].astype(np.int64) - b0[:, :, 0].astype(np.int64)
        assert got[5]["sum_abs"] == int(np.abs(d).sum())
        assert len(got) == 60
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stream_periodogram_across_batches(spark, tmp_path):
    """Incremental Lomb-Scargle: the stream's final per-(key,freq)
    emission must equal the batch lomb_scargle on the union."""
    from spatialindex_spark.operators.timedomain import lomb_scargle
    from spatialindex_spark.streaming.ingest import stream_periodogram

    rng = random.Random(37)
    freqs = [0.7, 1.3, 2.9]
    batch1, batch2 = [], []
    for k in (1, 2):
        for i in range(60):
            t = round(rng.uniform(0, 30), 6)
            y = round(8.0 + 2.0 * math.sin(math.tau * 1.3 * t)
                      + rng.gauss(0, 0.2), 2)
            (batch1 if i < 35 else batch2).append((k, t, y))
    src = str(tmp_path / "pg_in")
    schema = "user_id long, t double, y double"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_periodogram(stream, freqs)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_pg").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
            "user_id, freq ORDER BY n_obs DESC) AS rk FROM t_pg) "
            "WHERE rk = 1").collect()
        got = {(r["user_id"], r["freq"]): (r["n_obs"], r["power"])
               for r in rows}
    finally:
        q.stop()
    want = {(r["key"], r["freq"]): (r["n_obs"], r["power"])
            for r in lomb_scargle(
                spark.createDataFrame(batch1 + batch2, schema),
                "user_id", "t", "y", freqs).collect()}
    assert got == want
    # the planted 1.3 c/d signal dominates the running spectrum too
    for k in (1, 2):
        assert got[(k, 1.3)][1] > max(got[(k, 0.7)][1], got[(k, 2.9)][1])


def test_phase_fold_exact_bins(spark):
    """Folding at a known period: integer phase bins and quantized means
    match a hand computation; a planted square-wave signal shows up as a
    two-level folded profile."""
    from spatialindex_spark.operators.timedomain import phase_fold

    P = 1_000_000  # 1 s period in micros
    rows = []
    for i in range(40):
        t = i * 250_000 + 13  # quarter-period steps -> 4 distinct phases
        y = 5.0 if (t % P) < P // 2 else 1.0  # square wave in phase
        rows.append((7, t, y))
    df = spark.createDataFrame(rows, "key long, t_us long, value double")
    out = phase_fold(df, "key", "t_us", "value", period_us=P, n_bins=4)
    got = {r["phase_bin"]: (r["n_obs"], r["mean_y"], r["amp_y"])
           for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0] == (10, 5.0, 0.0) and got[1] == (10, 5.0, 0.0)
    assert got[2] == (10, 1.0, 0.0) and got[3] == (10, 1.0, 0.0)


def test_phase_fold_negative_time(spark):
    from spatialindex_spark.operators.timedomain import phase_fold

    df = spark.createDataFrame([(1, -250_000, 2.0)],
                               "key long, t_us long, value double")
    r = phase_fold(df, "key", "t_us", "value", 1_000_000, 4).collect()[0]
    assert r["phase_bin"] == 3  # pmod folds pre-epoch times into [0, P)


def test_linear_fit_recovers_line(spark):
    from spatialindex_spark.operators.timedomain import linear_fit

    hour = 3_600_000_000
    rows = [(1, i * hour, 2.5 * i + 4.0) for i in range(20)]
    rows += [(2, 0, 9.0)]                       # n=1 -> NULL fit
    rows += [(3, 5 * hour, 1.0), (3, 5 * hour, 3.0)]  # zero t-variance
    df = spark.createDataFrame(rows, "key long, t_us long, value double")
    got = {r["key"]: r for r in
           linear_fit(df, "key", "t_us", "value").collect()}
    assert got[1]["slope"] == 2.5 and got[1]["intercept"] == 4.0
    assert got[2]["slope"] is None and got[2]["intercept"] is None
    assert got[3]["slope"] is None
    assert got[1]["n_obs"] == 20


def test_stream_phase_fold_across_batches(spark, tmp_path):
    """Final streaming emissions == batch phase_fold on the union of two
    micro-batches (exact integer state; arrival order irrelevant)."""
    import random

    from spatialindex_spark.operators.timedomain import phase_fold
    from spatialindex_spark.streaming.ingest import stream_phase_fold

    P = 86_400_000_000
    rng = random.Random(11)
    batch1, batch2 = [], []
    for k in (1, 2):
        for i in range(50):
            t = rng.randrange(0, 40 * P)
            y = round(rng.uniform(-3, 9), 3)
            (batch1 if i < 30 else batch2).append((k, t, y))
    src = str(tmp_path / "pf_in")
    schema = "user_id long, t_us long, value double"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_phase_fold(stream, P, n_bins=8)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_pf").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY "
            "user_id, phase_bin ORDER BY n_obs DESC) AS rk FROM t_pf) "
            "WHERE rk = 1").collect()
        got = {(r["user_id"], r["phase_bin"]):
               (r["n_obs"], r["mean_y"], r["amp_y"]) for r in rows}
    finally:
        q.stop()
    want = {(r["key"], r["phase_bin"]): (r["n_obs"], r["mean_y"], r["amp_y"])
            for r in phase_fold(
                spark.createDataFrame(batch1 + batch2, schema),
                "user_id", "t_us", "value", P, n_bins=8).collect()}
    assert got == want


def test_ud_grade_semantics(spark):
    import numpy as np

    from spatialindex_spark.operators.counts import ud_grade

    rng = np.random.default_rng(7)
    pix = rng.choice(768, size=200, replace=False)
    vals = rng.integers(0, 50, size=200)
    df = spark.createDataFrame(
        [(int(p), int(v)) for p, v in zip(pix, vals)], "pix long, n long")

    # degrade-sum conserves total mass; parents are pix >> 2*dk
    d = {r.pix: r.n for r in ud_grade(df, 3, 1, mode="sum").collect()}
    exp = {}
    for p, v in zip(pix, vals):
        exp[int(p) >> 4] = exp.get(int(p) >> 4, 0) + int(v)
    assert d == exp

    # degrade-mean: exact integer mean over PRESENT children
    dm = {r.pix: (r.n, r.n_child)
          for r in ud_grade(df, 3, 1, mode="mean").collect()}
    for parent, (mean, nc) in dm.items():
        kids = [int(v) for p, v in zip(pix, vals) if int(p) >> 4 == parent]
        assert nc == len(kids)
        assert mean == round(sum(kids) / len(kids), 9)

    # upgrade-sum conserves mass exactly (integer long division split)
    u = ud_grade(df, 3, 5, mode="sum")
    assert u.agg({"n": "sum"}).collect()[0][0] == int(vals.sum())
    assert u.count() == 200 * 16
    # every child of pixel p lies in [p<<4, (p+1)<<4) and gets
    # v DIV 16 or v DIV 16 + 1
    rows = u.collect()
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r.pix >> 4, []).append(r.n)
    for p, v in zip(pix, vals):
        share = sorted(by_parent[int(p)])
        q, rmd = divmod(int(v), 16)
        assert share == [q] * (16 - rmd) + [q + 1] * rmd

    # copy replicates; round-trip degrade(mean) of copy is the identity
    c = ud_grade(df, 3, 4, mode="copy")
    back = {r.pix: r.n for r in ud_grade(c, 4, 3, mode="mean").collect()}
    assert back == {int(p): float(v) for p, v in zip(pix, vals)}

    import pytest
    with pytest.raises(ValueError):
        ud_grade(df, 3, 1, mode="copy")
    with pytest.raises(ValueError):
        ud_grade(df, 3, 5, mode="mean")
    # conserving upgrade rejects negative values in-plan (silent
    # mis-splits would violate conservation)
    neg = spark.createDataFrame([(0, -5)], "pix long, n long")
    with pytest.raises(Exception, match="non-negative"):
        ud_grade(neg, 1, 2, mode="sum").collect()
    assert len(ud_grade(neg, 1, 2, mode="copy").collect()) == 4


def test_bayes_match_formula_and_pairs(spark):
    import math

    import numpy as np

    from spatialindex_spark.operators.joins import bayes_match, crossmatch

    rng = np.random.default_rng(11)
    n = 300
    lra = rng.uniform(0, 360, n); ldec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    rra = lra + rng.normal(0, 0.2, n); rdec = ldec + rng.normal(0, 0.2, n)
    left = spark.createDataFrame(
        [(i, float(a), float(d)) for i, (a, d) in enumerate(zip(lra, ldec))],
        "lid long, ra double, dec double")
    right = spark.createDataFrame(
        [(i, float(a % 360), float(np.clip(d, -89.9, 89.9)))
         for i, (a, d) in enumerate(zip(rra, rdec))],
        "rid long, ra double, dec double")

    bm = bayes_match(left, right, 1.5, 0.3, 0.4, prior=0.25).collect()
    cm = crossmatch(left, right, 1.5)
    # same pair set as crossmatch, plus the two probability columns
    assert {(r.lid_l, r.rid_r) for r in bm} == \
        {(r.lid_l, r.rid_r) for r in cm.collect()}
    s = (0.3 * math.pi / 180) ** 2 + (0.4 * math.pi / 180) ** 2

    def xyz(ra, dec):
        ra, dec = math.radians(ra), math.radians(dec)
        return np.array([math.cos(dec) * math.cos(ra),
                         math.cos(dec) * math.sin(ra), math.sin(dec)])

    for r in bm[:50]:
        dot = float(xyz(r.ra_l, r.dec_l) @ xyz(r.ra_r, r.dec_r))
        lnb = math.log(2.0 / s) - (1.0 - dot) / s
        assert abs(lnb - r.ln_bayes) < 1e-6
        b = math.exp(lnb)
        assert abs(b * 0.25 / (b * 0.25 + 0.75) - r.posterior) < 1e-9
        assert 0.0 <= r.posterior <= 1.0


def test_cross_correlation_matches_brute_force(spark):
    import math

    import numpy as np

    from spatialindex_spark.operators.correlation import cross_correlation

    rng = np.random.default_rng(23)

    def cat(n, clump=None):
        ra = rng.uniform(0, 360, n)
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        if clump:  # plant correlated structure at (ra0, dec0)
            k = n // 3
            ra[:k] = clump[0] + rng.normal(0, 0.5, k)
            dec[:k] = clump[1] + rng.normal(0, 0.5, k)
        return ra, dec

    d1 = cat(150, clump=(40.0, 10.0))
    d2 = cat(120, clump=(40.0, 10.0))
    r1, r2 = cat(200), cat(180)

    def df(arr):
        return spark.createDataFrame(
            [(i, float(a % 360), float(np.clip(d, -89.9, 89.9)))
             for i, (a, d) in enumerate(zip(*arr))],
            "id long, ra double, dec double")

    edges = [0.5, 1.0, 2.0, 4.0]
    out = {r.bin: r for r in cross_correlation(
        df(d1), df(d2), df(r1), df(r2), edges,
        "id", "id", "id", "id").collect()}

    def brute(a, b):
        va = np.stack([np.cos(np.radians(a[1])) * np.cos(np.radians(a[0])),
                       np.cos(np.radians(a[1])) * np.sin(np.radians(a[0])),
                       np.sin(np.radians(a[1]))], 1)
        vb = np.stack([np.cos(np.radians(b[1])) * np.cos(np.radians(b[0])),
                       np.cos(np.radians(b[1])) * np.sin(np.radians(b[0])),
                       np.sin(np.radians(b[1]))], 1)
        dots = va @ vb.T
        seps = np.degrees(np.arccos(np.clip(dots, -1, 1)))
        return np.histogram(seps.ravel(), bins=edges)[0]

    # clip catalogs the same way df() does before computing the reference
    def clipped(arr):
        return arr[0] % 360, np.clip(arr[1], -89.9, 89.9)

    d1c, d2c, r1c, r2c = map(clipped, (d1, d2, r1, r2))
    ab = brute(d1c, d2c); ar = brute(d1c, r2c)
    br = brute(d2c, r1c); rr = brute(r1c, r2c)
    n1, n2, m1, m2 = 150, 120, 200, 180
    for i in range(3):
        row = out[i]
        assert (row.n_d1d2, row.n_d1r2, row.n_d2r1, row.n_r1r2) == \
            (ab[i], ar[i], br[i], rr[i]), i
        a = ab[i] / (n1 * n2); b = ar[i] / (n1 * m2)
        c = br[i] / (n2 * m1); d = rr[i] / (m1 * m2)
        assert abs(row.w_ls - (a - b - c + d) / d) < 1e-8
    # planted cross-clump must show positive correlation in the first bin
    assert out[0].w_ls > 0.5


def test_landy_szalay_jackknife_brute(spark):
    """Jackknife w(theta) == brute-force python recomputation of the
    estimator on each deleted-region sample; central w matches plain
    landy_szalay."""
    import math

    import numpy as np

    from pyspark.sql import functions as F
    from spatialindex_spark.operators.correlation import (
        landy_szalay, landy_szalay_jackknife)

    rng = np.random.default_rng(41)

    def cat(n, seed_clump=False):
        ra = rng.uniform(0, 360, n)
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        if seed_clump:
            ra[: n // 4] = 70 + rng.normal(0, 0.6, n // 4)
            dec[: n // 4] = 5 + rng.normal(0, 0.6, n // 4)
        return ra % 360, np.clip(dec, -89.9, 89.9)

    d = cat(320, True)
    r = cat(420)

    def df(a):
        return spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in
             enumerate(zip(*a))], "id long, ra double, dec double")

    edges = [2.0, 4.0, 8.0, 16.0]
    K = 12

    def reg_col(ra, dec):
        return (F.floor(ra / F.lit(30.0)).cast("int") % K).cast("int")

    got = {row.bin: row for row in landy_szalay_jackknife(
        df(d), df(r), edges, "id", "id", reg_col, K).collect()}
    base = {row.bin: row for row in landy_szalay(
        df(d), df(r), edges, "id", "id").collect()}
    for b in range(3):
        assert got[b].n_dd == base[b].n_dd and got[b].n_rr == base[b].n_rr
        assert got[b].w_ls == base[b].w_ls

    # brute python: delete each longitude slice, recompute
    def vec(a):
        ra, dec = np.radians(a[0]), np.radians(a[1])
        return np.stack([np.cos(dec) * np.cos(ra),
                         np.cos(dec) * np.sin(ra), np.sin(dec)], 1)

    def counts(a, b, same):
        seps = np.degrees(np.arccos(np.clip(vec(a) @ vec(b).T, -1, 1)))
        if same:
            np.fill_diagonal(seps, -1)
        return np.histogram(seps.ravel(), bins=edges)[0]

    regions_d = (d[0] // 30).astype(int) % K
    regions_r = (r[0] // 30).astype(int) % K
    for b in range(3):
        wks = []
        for k in range(K):
            dm = (d[0][regions_d != k], d[1][regions_d != k])
            rm = (r[0][regions_r != k], r[1][regions_r != k])
            nd, nr = len(dm[0]), len(rm[0])
            rrk = counts(rm, rm, True)[b]
            if nd < 2 or nr < 2 or rrk == 0:
                continue
            ddk = counts(dm, dm, True)[b]
            drk = counts(dm, rm, False)[b]
            wk = ((ddk / (nd * (nd - 1)) - 2.0 * (drk / (nd * nr))
                   + rrk / (nr * (nr - 1))) / (rrk / (nr * (nr - 1))))
            wks.append(wk)
        assert got[b].n_jk == len(wks)
        if len(wks) < 2:
            assert got[b].w_err is None
            continue
        m = sum(wks) / len(wks)
        err = math.sqrt((len(wks) - 1) / len(wks)
                        * sum((x - m) ** 2 for x in wks))
        assert abs(got[b].w_err - err) < 1e-8, (b, got[b].w_err, err)
    assert any(got[b].n_jk >= 2 for b in range(3))


def test_stream_proper_motions_across_batches(spark, tmp_path):
    """Cross-batch incremental fit moments: the stream's FINAL emission
    per object equals the batch proper_motions fit on the union (the
    association is made unambiguous so both paths see identical keyed
    epochs)."""
    from spatialindex_spark.operators.timedomain import proper_motions
    from spatialindex_spark.streaming.ingest import stream_proper_motions

    objs = [(k, 40.0 + 5.0 * k, 10.0 + 2.0 * k) for k in range(4)]
    batch1, batch2 = [], []
    for k, ra0, dec0 in objs:
        mu_a, mu_d = (k % 5) - 2, ((k + 2) % 5) - 2   # micro-deg / tick
        for e in range(10):
            dith = ((k * 7 + e * 3) % 3) - 1
            row = (k, 1000 * k + e,
                   float(ra0 + (mu_a * e + dith) * 1e-6),
                   float(dec0 + (mu_d * e + dith) * 1e-6),
                   e * 3_600_000_000)
            (batch1 if e < 6 else batch2).append(row)
    schema = ("obj_id long, det_id long, ra double, dec double, "
              "t_us long")
    src = str(tmp_path / "pm_in")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_proper_motions(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_pm").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY obj_id ORDER BY n_obs DESC) AS rk FROM t_pm) "
            "WHERE rk = 1").collect()
        got = {r["obj_id"]: r for r in rows}
    finally:
        q.stop()

    det = spark.createDataFrame(batch1 + batch2, schema) \
        .select("det_id", "ra", "dec", "t_us")
    cat = spark.createDataFrame(
        [(k, ra, dec) for k, ra, dec in objs],
        "obj_id long, ra double, dec double")
    want = {r["obj"]: r for r in proper_motions(
        det, cat, 0.01, det_id="det_id", obj_id="obj_id",
        time_col="t_us").collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_obs"] == want[k]["n_obs"] == 10
        for f in ("pm_ra", "pm_dec", "ra0", "dec0"):
            assert got[k][f] == want[k][f], (k, f, got[k][f], want[k][f])
        # planted slope recovered within the dither bound
        assert abs(got[k]["pm_ra"] - ((k % 5) - 2) * 1e-6) < 1e-6


def test_stream_variability_halfway_quantization_parity(spark, tmp_path):
    """Quantization parity on exact .5 values: batch variability uses
    Spark F.round (HALF_UP on the shortest-decimal form) while pandas
    round is HALF_EVEN — y = 0.125 at y_quant=100 lands on 12.5 and the
    two disagree (13 vs 12). The stream must match the batch bit-for-bit
    on a .5-rich series (regression for the _round_half_up fix)."""
    from spatialindex_spark.operators.timedomain import variability_stats
    from spatialindex_spark.streaming.ingest import stream_variability

    rows = []
    for k in (1, 2):
        # every value quantizes to an exact .5: 0.125->12.5, 0.135->13.5,
        # -0.125->-12.5 (HALF_UP rounds away from zero)
        for i, y in enumerate([0.125, 0.135, -0.125, 0.145, 0.125,
                               -0.135, 0.155, 0.125]):
            rows.append((k, float(i), y if k == 1 else y * 3))
    schema = "user_id long, t double, y double"
    src = str(tmp_path / "half_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    out = stream_variability(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_half").start())
    try:
        q.processAllAvailable()
        rows_out = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY user_id ORDER BY n_obs DESC) AS rk FROM t_half) "
            "WHERE rk = 1").collect()
        got = {r["user_id"]: r for r in rows_out}
    finally:
        q.stop()
    want = {r["key"]: r for r in variability_stats(
        spark.createDataFrame(rows, schema), "user_id", "t", "y").collect()}
    assert set(got) == set(want)
    for k in want:
        for f in ("n_obs", "mean_y", "var_y", "amp_y", "eta"):
            assert got[k][f] == want[k][f], (k, f, got[k][f], want[k][f])


def test_stream_proper_motions_pre_epoch_parity(spark, tmp_path):
    """Pre-1970 epochs: batch proper_motions buckets ticks with Spark
    `div` (truncate toward zero) while Python // floors — negative
    timestamps landed one tick lower in the stream (regression for the
    _div_trunc fix). Positions also sit on exact .5 quanta."""
    from spatialindex_spark.operators.timedomain import proper_motions
    from spatialindex_spark.streaming.ingest import stream_proper_motions

    rows = []
    for k in range(2):
        for e in range(8):
            # ticks straddle zero and are NOT on tick boundaries
            t_us = (e - 4) * 3_600_000_000 + 1_800_000_001
            rows.append((k, 1000 * k + e,
                         float(40.0 + k + e * 1e-6 + 5e-7),   # .5 quanta
                         float(10.0 + k + e * 1e-6 + 5e-7),
                         t_us))
    schema = ("obj_id long, det_id long, ra double, dec double, "
              "t_us long")
    src = str(tmp_path / "pm_neg_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .parquet(src))
    out = stream_proper_motions(stream)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("t_pm_neg").start())
    try:
        q.processAllAvailable()
        rows_out = spark.sql(
            "SELECT * FROM (SELECT *, row_number() OVER "
            "(PARTITION BY obj_id ORDER BY n_obs DESC) AS rk FROM "
            "t_pm_neg) WHERE rk = 1").collect()
        got = {r["obj_id"]: r for r in rows_out}
    finally:
        q.stop()
    det = spark.createDataFrame(rows, schema) \
        .select("det_id", "ra", "dec", "t_us")
    cat = spark.createDataFrame(
        [(k, 40.0 + k, 10.0 + k) for k in range(2)],
        "obj_id long, ra double, dec double")
    want = {r["obj"]: r for r in proper_motions(
        det, cat, 0.01, det_id="det_id", obj_id="obj_id",
        time_col="t_us").collect()}
    assert set(got) == set(want)
    for k in want:
        for f in ("n_obs", "pm_ra", "pm_dec", "ra0", "dec0"):
            assert got[k][f] == want[k][f], (k, f, got[k][f], want[k][f])
