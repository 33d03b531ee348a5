"""Source detection + astrometry: exact recovery of planted spikes,
pixel->sky inverse consistency with the forward TAN math, and the
no-shuffle plan shape."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialindex_spark.operators.cutouts import tan_pix_np
from spatialindex_spark.operators.detect import detect_sources
from spatialindex_spark.sources import imaging

SCALE = 0.01


def _payload(spark, n_img=40, seed=3):
    rng = np.random.default_rng(seed)
    meta = pd.DataFrame({
        "image_id": np.arange(n_img, dtype=np.int64),
        "ra": rng.uniform(0, 360, n_img),
        "dec": np.degrees(np.arcsin(rng.uniform(-0.99, 0.99, n_img))),
        "w": rng.choice([16, 32, 64], n_img).astype(np.int32),
        "h": rng.choice([16, 32, 64], n_img).astype(np.int32),
    })
    rows = []
    for r in meta.itertuples(index=False):
        fmt = ("raw", "z")[int(r.image_id) % 2]      # lossless only
        img = imaging.synth_image_sources(int(r.image_id), int(r.w),
                                          int(r.h))
        rows.append((int(r.image_id), float(r.ra), float(r.dec),
                     int(r.w), int(r.h), fmt, imaging.encode(img, fmt)))
    df = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    return df, meta


def test_detect_recovers_planted_sources(spark):
    df, meta = _payload(spark)
    got = detect_sources(df, SCALE).toPandas()

    # exact planted set per image
    planted = set()
    for r in meta.itertuples(index=False):
        i, w, h = int(r.image_id), int(r.w), int(r.h)
        for s in range(3):
            planted.add((i, (i * 7919 + s * 2741 + 5) % w,
                         (i * 6133 + s * 3571 + 11) % h))
    assert {(int(r.image_id), int(r.src_x), int(r.src_y))
            for r in got.itertuples(index=False)} == planted
    assert len(got) == 3 * len(meta)

    # astrometry: forward-projecting each detection's sky position into
    # its own image must land back on the pixel center
    m = meta.set_index("image_id")
    for r in got.itertuples(index=False):
        mr = m.loc[int(r.image_id)]
        px, py, ok = tan_pix_np(float(r.src_ra), float(r.src_dec),
                                float(mr.ra), float(mr.dec),
                                int(mr.w), int(mr.h), SCALE)
        assert bool(ok)
        assert abs(float(px) - (r.src_x + 0.5)) < 1e-4
        assert abs(float(py) - (r.src_y + 0.5)) < 1e-4


def test_detect_plan_no_shuffle(spark):
    df, _ = _payload(spark, n_img=8)
    plan = detect_sources(df, SCALE)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_stream_detect_matches_batch(spark, tmp_path):
    """Detection-on-ingest across two micro-batches equals the batch
    operator on the same rows (stateless map — no watermark/state)."""
    from spatialindex_spark.streaming.ingest import stream_detect

    df, meta = _payload(spark, n_img=30, seed=9)
    pdf = df.toPandas()
    src = str(tmp_path / "det_stream")
    schema = ("image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    half = len(pdf) // 2
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_detect(stream, SCALE)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("det_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in
           spark.sql("SELECT * FROM det_stream").collect()}
    want = {tuple(r) for r in detect_sources(df, SCALE).collect()}
    assert got == want and len(got) == 90


def test_forced_photometry_matches_numpy(spark):
    """forced_photometry == brute-force numpy aperture sums over the
    photometric payload (every pixel an integer formula), including
    clipped edge windows; bytes stay out of the window plan."""
    from spatialindex_spark.operators.detect import forced_photometry

    rng = np.random.default_rng(17)
    n_img, ap = 30, 2
    meta = pd.DataFrame({
        "image_id": np.arange(n_img, dtype=np.int64),
        "ra": rng.uniform(0, 360, n_img),
        "dec": np.degrees(np.arcsin(rng.uniform(-0.95, 0.95, n_img))),
        "w": rng.choice([16, 32], n_img).astype(np.int32),
        "h": rng.choice([16, 32], n_img).astype(np.int32),
    })
    rows = []
    for r in meta.itertuples(index=False):
        fmt = ("raw", "z")[int(r.image_id) % 2]
        img = imaging.synth_image_photometric(int(r.image_id), int(r.w),
                                              int(r.h))
        rows.append((int(r.image_id), float(r.ra), float(r.dec),
                     int(r.w), int(r.h), fmt, imaging.encode(img, fmt)))
    images = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    # targets: one dead-center (complete window), one near the corner
    # (clipped), per image, plus far-away misses
    tg = []
    for r in meta.itertuples(index=False):
        tg.append((int(r.image_id) * 10, float(r.ra), float(r.dec)))
        tg.append((int(r.image_id) * 10 + 1,
                   float(r.ra + (r.w / 2 - 0.6) * SCALE),
                   float(min(89.0, r.dec + (r.h / 2 - 0.6) * SCALE))))
        tg.append((int(r.image_id) * 10 + 2,
                   float((r.ra + 90) % 360), float(-r.dec)))
    targets = spark.createDataFrame(
        tg, "target_id long, ra double, dec double")
    got = {(r.target_id, r.image_id): (r.npix, r.flux)
           for r in forced_photometry(targets, images, SCALE, ap,
                                      max_dim_px=32).collect()}

    # numpy twin
    want = {}
    for t_id, tra, tdec in tg:
        for r in meta.itertuples(index=False):
            px, py, den = tan_pix_np(
                np.array([tra]), np.array([tdec]), float(r.ra),
                float(r.dec), int(r.w), int(r.h), SCALE)
            if den[0] <= 0 or not (0 <= px[0] < r.w and 0 <= py[0] < r.h):
                continue
            x0r = int(np.floor(px[0])) - ap
            y0r = int(np.floor(py[0])) - ap
            x0, x1 = max(0, x0r), min(int(r.w), x0r + 2 * ap + 1)
            y0, y1 = max(0, y0r), min(int(r.h), y0r + 2 * ap + 1)
            img = imaging.synth_image_photometric(int(r.image_id),
                                                  int(r.w), int(r.h))
            cut = img[y0:y1, x0:x1, 0].astype(np.int64)
            want[(t_id, int(r.image_id))] = (cut.size, int(cut.sum()))
    assert got == want
    assert len(got) >= 2 * n_img  # center + corner targets all matched
    # clipped windows present (corner target) and they disagree with 25
    assert any(npix < (2 * ap + 1) ** 2 for npix, _ in got.values())


def test_affine_wcs_fit_recovers_plate_solution(spark):
    """Stars synthesized through a KNOWN affine WCS are fit back to the
    same coefficients; degenerate images (too few / collinear stars)
    yield NULL coefficients instead of garbage."""
    from spatialindex_spark.operators.detect import affine_wcs_fit

    a, b, c = 0.01, -0.002, 120.0     # ra  = a*u + b*v + c
    d, e, f = 0.0015, 0.011, -30.0    # dec = d*u + e*v + f
    rows = []
    for s in range(8):
        u, v = (s * 7) % 50, (s * 13) % 40
        rows.append((1, u, v, a * u + b * v + c, d * u + e * v + f))
    rows += [(2, 0, 0, 120.0, -30.0), (2, 1, 1, 120.01, -29.99)]  # n<3
    rows += [(3, i, 2 * i, 120.0 + 0.01 * i, -30.0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "image_id long, u long, v long, ra double, dec double")
    got = {r["image_id"]: r for r in affine_wcs_fit(df).collect()}
    for k, want in zip("abcdef", (a, b, c, d, e, f)):
        assert abs(got[1][k] - want) < 1e-6, (k, got[1][k], want)
    assert got[2]["a"] is None and got[2]["n_stars"] == 2
    assert got[3]["a"] is None  # collinear -> singular normal matrix


def test_source_moments_matches_numpy(spark):
    """source_moments == brute-force numpy flux-weighted moments over
    the photometric payload, incl. clipped edge windows; a planted
    delta-function image yields zero central moments at the spike."""
    from spatialindex_spark.operators.detect import source_moments

    rng = np.random.default_rng(29)
    n_img, ap = 20, 2
    meta = pd.DataFrame({
        "image_id": np.arange(n_img, dtype=np.int64),
        "ra": rng.uniform(0, 360, n_img),
        "dec": np.degrees(np.arcsin(rng.uniform(-0.9, 0.9, n_img))),
        "w": rng.choice([16, 32], n_img).astype(np.int32),
        "h": rng.choice([16, 32], n_img).astype(np.int32),
    })
    rows = []
    for r in meta.itertuples(index=False):
        fmt = ("raw", "z")[int(r.image_id) % 2]
        if int(r.image_id) == 0:
            # delta function: single nonzero pixel at the image center
            img = np.zeros((int(r.h), int(r.w), 3), dtype=np.uint8)
            img[int(r.h) // 2, int(r.w) // 2, :] = 200
        else:
            img = imaging.synth_image_photometric(int(r.image_id),
                                                  int(r.w), int(r.h))
        rows.append((int(r.image_id), float(r.ra), float(r.dec),
                     int(r.w), int(r.h), fmt, imaging.encode(img, fmt)))
    images = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    tg = [(int(r.image_id) * 10, float(r.ra), float(r.dec))
          for r in meta.itertuples(index=False)]
    tg += [(int(r.image_id) * 10 + 1,
            float(r.ra + (r.w / 2 - 0.6) * SCALE),
            float(min(89.0, r.dec + (r.h / 2 - 0.6) * SCALE)))
           for r in meta.itertuples(index=False)]
    targets = spark.createDataFrame(
        tg, "target_id long, ra double, dec double")
    got = {(r.target_id, r.image_id): r
           for r in source_moments(targets, images, SCALE, ap,
                                   max_dim_px=32).collect()}
    assert len(got) >= n_img

    imgs_by_id = {row[0]: row for row in rows}
    for (t_id, i_id), g in got.items():
        tra, tdec = next((a, d) for t, a, d in tg if t == t_id)
        r = meta.iloc[i_id]
        px, py, den = tan_pix_np(
            np.array([tra]), np.array([tdec]), float(r.ra), float(r.dec),
            int(r.w), int(r.h), SCALE)
        x0r = int(np.floor(px[0])) - ap
        y0r = int(np.floor(py[0])) - ap
        x0, x1 = max(0, x0r), min(int(r.w), x0r + 2 * ap + 1)
        y0, y1 = max(0, y0r), min(int(r.h), y0r + 2 * ap + 1)
        if i_id == 0:
            img = np.zeros((int(r.h), int(r.w), 3), dtype=np.uint8)
            img[int(r.h) // 2, int(r.w) // 2, :] = 200
        else:
            img = imaging.synth_image_photometric(i_id, int(r.w),
                                                  int(r.h))
        v = img[y0:y1, x0:x1, 0].astype(np.int64)
        xs = np.arange(x0, x1, dtype=np.int64)[None, :]
        ys = np.arange(y0, y1, dtype=np.int64)[:, None]
        assert g.s_v == v.sum()
        assert g.s_vx == (v * xs).sum() and g.s_vy == (v * ys).sum()
        assert g.s_vxx == (v * xs * xs).sum()
        assert g.s_vxy == (v * xs * ys).sum()
        assert g.s_vyy == (v * ys * ys).sum()
        if g.s_v > 0:
            xb = g.s_vx / g.s_v
            assert abs(g.xbar - round(xb, 9)) < 1e-12
            assert abs(g.cxx - round(g.s_vxx / g.s_v - xb * xb, 9)) < 1e-9

    # the delta image: centroid at the spike, zero central moments
    d = got[(0, 0)]
    assert d.s_v == 200
    assert d.xbar == meta.iloc[0].w // 2 and d.ybar == meta.iloc[0].h // 2
    assert d.cxx == 0.0 and d.cyy == 0.0 and d.cxy == 0.0


def test_annulus_photometry_background_subtraction(spark):
    """Constant background nets to exactly 0; a planted spike on a
    constant background nets to exactly the spike excess; clipped
    windows match a numpy twin."""
    from spatialindex_spark.operators.detect import annulus_photometry

    rng = np.random.default_rng(31)
    n_img = 12
    meta = pd.DataFrame({
        "image_id": np.arange(n_img, dtype=np.int64),
        "ra": rng.uniform(0, 360, n_img),
        "dec": np.degrees(np.arcsin(rng.uniform(-0.9, 0.9, n_img))),
        "w": np.full(n_img, 32, dtype=np.int32),
        "h": np.full(n_img, 32, dtype=np.int32),
    })

    def payload(i, w, h):
        if i == 0:           # constant background
            return np.full((h, w, 3), 40, dtype=np.uint8)
        if i == 1:           # constant + center spike
            img = np.full((h, w, 3), 40, dtype=np.uint8)
            img[h // 2, w // 2, :] = 240
            return img
        return imaging.synth_image_photometric(i, w, h)

    rows = []
    for r in meta.itertuples(index=False):
        fmt = ("raw", "z")[int(r.image_id) % 2]
        img = payload(int(r.image_id), int(r.w), int(r.h))
        rows.append((int(r.image_id), float(r.ra), float(r.dec),
                     int(r.w), int(r.h), fmt, imaging.encode(img, fmt)))
    images = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    tg = [(int(r.image_id) * 10, float(r.ra), float(r.dec))
          for r in meta.itertuples(index=False)]
    tg += [(int(r.image_id) * 10 + 1,
            float(r.ra + (r.w / 2 - 0.6) * SCALE),
            float(min(89.0, r.dec + (r.h / 2 - 0.6) * SCALE)))
           for r in meta.itertuples(index=False)]
    targets = spark.createDataFrame(
        tg, "target_id long, ra double, dec double")
    ap, r_in, r_out = 1, 2, 4
    got = {(r.target_id, r.image_id): r
           for r in annulus_photometry(targets, images, SCALE, ap, r_in,
                                       r_out, max_dim_px=32).collect()}
    assert len(got) >= n_img

    # exact background subtraction on the synthetic cases (centered,
    # unclipped): constant -> 0; constant+spike -> spike excess
    g0 = got[(0, 0)]
    assert g0.n_ap == 9 and g0.n_out == 81 and g0.n_in == 25
    assert g0.bkg_mean == 40.0 and g0.net_flux == 0.0
    g1 = got[(10, 1)]
    assert g1.bkg_mean == 40.0 and g1.net_flux == 240.0 - 40.0

    # numpy twin everywhere (incl. clipped corner windows)
    for (t_id, i_id), g in got.items():
        tra, tdec = next((a, d) for t, a, d in tg if t == t_id)
        r = meta.iloc[i_id]
        px, py, den = tan_pix_np(
            np.array([tra]), np.array([tdec]), float(r.ra), float(r.dec),
            int(r.w), int(r.h), SCALE)
        fx = int(np.floor(round(px[0], 6)))
        fy = int(np.floor(round(py[0], 6)))
        img = payload(i_id, int(r.w), int(r.h))
        sums = {}
        for rad, nk, fk in ((ap, "n_ap", "flux_ap"),
                            (r_in, "n_in", "flux_in"),
                            (r_out, "n_out", "flux_out")):
            x0, x1 = max(0, fx - rad), min(int(r.w), fx + rad + 1)
            y0, y1 = max(0, fy - rad), min(int(r.h), fy + rad + 1)
            cut = img[y0:y1, x0:x1, 0].astype(np.int64)
            sums[nk], sums[fk] = cut.size, int(cut.sum())
        for k, v in sums.items():
            assert getattr(g, k) == v, (t_id, i_id, k)
    with pytest.raises(ValueError):
        annulus_photometry(targets, images, SCALE, 3, 2, 4)


# ---------------------------------------------------------------------------
# the shared pixel read-back: cutouts and the three photometry operators

AP = 2
RADII = (1, 2, 4)
READBACK_FIELDS = {
    "cutout": ("x0", "x1", "y0", "y1", "data"),
    "forced": ("x0", "x1", "y0", "y1", "npix", "flux"),
    "moments": ("s_v", "s_vx", "s_vy", "s_vxx", "s_vxy", "s_vyy"),
    "annulus": ("n_ap", "flux_ap", "n_in", "flux_in", "n_out", "flux_out"),
}


def _readback_op(op, targets, images, **kw):
    from spatialindex_spark.operators.cutouts import (cutout_pixels,
                                                      cutout_windows)
    from spatialindex_spark.operators.detect import (annulus_photometry,
                                                     forced_photometry,
                                                     source_moments)

    if op == "cutout":
        cap = kw.pop("max_images", 1_000_000)
        return cutout_pixels(images, cutout_windows(
            targets, images.drop("bytes", "fmt"), SCALE, 2 * AP + 1, **kw),
            max_images=cap)
    if op == "forced":
        return forced_photometry(targets, images, SCALE, AP, **kw)
    if op == "moments":
        return source_moments(targets, images, SCALE, AP, **kw)
    return annulus_photometry(targets, images, SCALE, *RADII, **kw)


def _ra_at_px(r, px_goal):
    """RA of the point at the image's own dec whose px is ``px_goal``
    (px falls as RA grows), by bisection to double precision."""
    span = r.w * SCALE / math.cos(math.radians(r.dec))
    lo, hi = r.ra - span, r.ra + span
    for _ in range(200):
        mid = (lo + hi) / 2
        px = tan_pix_np(mid, r.dec, r.ra, r.dec, r.w, r.h, SCALE)[0]
        lo, hi = (mid, hi) if px > px_goal else (lo, mid)
    return lo


def _readback_tables(spark, n_img=24, seed=41):
    """Photometric raw/z/dct payloads and targets per image: its center,
    a near-corner point (clipped windows), a point whose px rounds UP to
    the next integer at 1e-6 (floor(round(px, 6)) = floor(px) + 1, the
    annulus margin case), a second target under the center's id
    (duplicate ids) and a miss."""
    rng = np.random.default_rng(seed)
    meta = pd.DataFrame({
        "image_id": np.arange(n_img, dtype=np.int64),
        "ra": rng.uniform(10, 350, n_img),
        "dec": rng.uniform(-60, 60, n_img),
        "w": rng.choice([16, 32], n_img).astype(np.int32),
        "h": rng.choice([16, 32], n_img).astype(np.int32),
    })
    rows, pixels, tg = [], {}, []
    for r in meta.itertuples(index=False):
        i = int(r.image_id)
        fmt = ("raw", "z", "dct")[i % 3]
        data = imaging.encode(imaging.synth_image_photometric(
            i, int(r.w), int(r.h)), fmt)
        pixels[i] = imaging.decode(data, int(r.w), int(r.h), fmt)
        rows.append((i, float(r.ra), float(r.dec), int(r.w), int(r.h), fmt,
                     data))
        tg += [(10 * i, float(r.ra), float(r.dec)),
               (10 * i + 1, float(r.ra + (r.w / 2 - 0.6) * SCALE),
                float(r.dec + (r.h / 2 - 0.6) * SCALE)),
               (10 * i + 2, _ra_at_px(r, r.w // 2 + 3 - 2e-7), float(r.dec)),
               (10 * i, float(r.ra - 1.3 * SCALE), float(r.dec)),
               (10 * i + 3, float((r.ra + 90) % 360), float(-r.dec))]
    images = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary")
    return images, meta, pixels, tg


def _readback_twin(op, tg, meta, pixels):
    """Numpy twin of every operator's measured values per (target,
    image) pair, from tan_pix_np and a full decode."""
    out = []
    for t, tra, tdec in tg:
        for r in meta.itertuples(index=False):
            w, h = int(r.w), int(r.h)
            px, py, ok = tan_pix_np(tra, tdec, r.ra, r.dec, w, h, SCALE)
            if not ok or not (0 <= px < w and 0 <= py < h):
                continue
            img = pixels[int(r.image_id)]

            def crop(fx, fy, rad):
                x0, x1 = max(0, fx - rad), min(w, fx + rad + 1)
                y0, y1 = max(0, fy - rad), min(h, fy + rad + 1)
                return (x0, x1, y0, y1), img[y0:y1, x0:x1]

            if op == "annulus":
                vals = []
                for rad in RADII:
                    _, c = crop(math.floor(round(px, 6)),
                                math.floor(round(py, 6)), rad)
                    v = c[:, :, 0].astype(np.int64)
                    vals += [v.size, int(v.sum())]
            else:
                box, c = crop(math.floor(px), math.floor(py), AP)
                v = c[:, :, 0].astype(np.int64)
                if op == "cutout":
                    vals = [*box, c.tobytes()]
                elif op == "forced":
                    vals = [*box, v.size, int(v.sum())]
                else:
                    xs = np.arange(box[0], box[1], dtype=np.int64)[None, :]
                    ys = np.arange(box[2], box[3], dtype=np.int64)[:, None]
                    vals = [int(m.sum()) for m in (
                        v, v * xs, v * ys, v * xs * xs, v * xs * ys,
                        v * ys * ys)]
            out.append((t, int(r.image_id), *vals))
    return sorted(out)


@pytest.mark.parametrize("op", ["cutout", "forced", "moments", "annulus"])
def test_pixel_readback_branches_match_numpy_twins(spark, monkeypatch, op):
    """Every pixel operator reads back through cutouts.pixel_readback:
    the IN-set branch and the semi-join branch (IN_SET_MAX = 2) return
    the same rows, row for row, and both equal the numpy twin over raw,
    z and dct payloads — clipped windows, duplicate target ids (each
    measured on its own) and the annulus rounding case included."""
    import spatialindex_spark.operators.cutouts as C

    images, meta, pixels, tg = _readback_tables(spark)
    targets = spark.createDataFrame(
        tg, "target_id long, ra double, dec double")
    want = _readback_twin(op, tg, meta, pixels)
    assert len({(t, i) for t, i, *_ in want}) < len(want)  # dup ids
    assert any(math.floor(round(px, 6)) != math.floor(px)
               for px in (tan_pix_np(ra, dec, r.ra, r.dec, r.w, r.h,
                                     SCALE)[0]
                          for (t, ra, dec), r in zip(tg[2::5],
                                                     meta.itertuples())))

    def snap(df):
        rows = df.collect()
        got = sorted((r.target_id, r.image_id,
                      *(r[f] for f in READBACK_FIELDS[op])) for r in rows)
        return sorted(tuple(r) for r in rows), got

    inset = _readback_op(op, targets, images, max_dim_px=32)
    assert "LeftSemi" not in inset._jdf.queryExecution().executedPlan() \
        .toString()
    base, got = snap(inset)
    assert got == want and len(want) >= 3 * len(meta)

    monkeypatch.setattr(C, "IN_SET_MAX", 2)
    semi = _readback_op(op, targets, images, max_dim_px=32)
    assert "LeftSemi" in semi._jdf.queryExecution().executedPlan().toString()
    assert snap(semi)[0] == base
    with pytest.raises(ValueError, match="matched >"):
        _readback_op(op, targets, images, max_dim_px=32, max_images=3)


@pytest.mark.parametrize("op", ["forced", "moments", "annulus"])
def test_photometry_empty_targets_skip_readback_scan(spark, tmp_path, op):
    """An empty target frame gives zero rows, and the read-back plans no
    scan of the image table, with and without the cell-range pushdown."""
    from spatialindex_spark.functions.udfs import hpx_udf

    images, *_ = _readback_tables(spark, n_img=6)
    p = str(tmp_path / "imgs")
    images.withColumn("hpx7", hpx_udf(7)("ra", "dec")).write.parquet(p)
    indexed = spark.read.parquet(p)
    none = spark.createDataFrame([], "target_id long, ra double, dec double")
    for kw in ({}, {"cell_col": "hpx7", "cell_level": 7}):
        out = _readback_op(op, none, indexed, max_dim_px=32, **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Scan parquet" not in plan, plan
        assert out.collect() == []


def test_photometry_runs_no_more_jobs_than_cutout_pixels(spark):
    """On the same targets, each photometry operator runs no more Spark
    jobs than a cutout request (cutout_windows + cutout_pixels): they
    share its one bounded driver read and one scan-and-decode pass.
    With the ingest cell column declared they add only the jobs of
    target_cell_ranges, their scan pre-filter."""
    from spatialindex_spark.functions.udfs import hpx_udf
    from spatialindex_spark.operators.cutouts import (pairing_radius_deg,
                                                      target_cell_ranges)

    rng = np.random.default_rng(5)
    n = 300
    ra, dec = rng.uniform(0, 30, n), rng.uniform(-15, 15, n)
    fmts = [("raw", "z", "dct")[i % 3] for i in range(n)]
    rows = [(i, float(ra[i]), float(dec[i]), 64, 64, fmts[i],
             imaging.encode(imaging.synth_image_photometric(i, 64, 64),
                            fmts[i])) for i in range(n)]
    images = spark.createDataFrame(
        rows, "image_id long, ra double, dec double, w int, h int, "
              "fmt string, bytes binary") \
        .withColumn("hpx7", hpx_udf(7)("ra", "dec")).localCheckpoint()
    j = rng.integers(0, n, 900)
    targets = spark.createDataFrame(pd.DataFrame({
        "target_id": np.arange(900, dtype=np.int64),
        "ra": ra[j] + rng.uniform(-0.5, 0.5, 900),
        "dec": dec[j] + rng.uniform(-0.5, 0.5, 900)})).localCheckpoint()
    sc = spark.sparkContext

    def jobs(fn, group):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    cell = {"cell_col": "hpx7", "cell_level": 7}
    ranges = jobs(lambda: target_cell_ranges(
        targets, pairing_radius_deg(SCALE, 64), "hpx7", 7), "ranges")
    for kw, extra in (({}, 0), (cell, ranges)):
        counts = {op: jobs(lambda: _readback_op(
            op, targets, images, max_dim_px=64, **kw).collect(),
            f"{op}-{bool(kw)}") for op in READBACK_FIELDS}
        for op in ("forced", "moments", "annulus"):
            assert counts[op] <= counts["cutout"] + extra, (kw, counts)
