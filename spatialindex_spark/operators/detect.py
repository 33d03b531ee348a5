"""Source detection + astrometry: extract point sources from image
pixels and place them on the sky (the catalog-extraction step that
FEEDS the reference's cell-indexed tables — README.md:9-24's position
catalogs are the OUTPUT of exactly this pipeline stage; crossmatch (J3)
then matches the fresh detections against a reference catalog).

Scale shape (100 TB)
--------------------
Detection is embarrassingly parallel: ``mapInPandas`` over the image
rows (pixels never shuffle, never leave their partition; the output is
a few dozen bytes per detection).  The pixel->sky conversion is pure
JVM Column trig on the detection rows — the inverse of the gnomonic
(TAN) window math in operators/cutouts.py, same geometry model.  The
combined plan is one Arrow pass over the scan followed by whole-stage
codegen; no shuffle at all until a downstream groupBy/crossmatch.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = ["detect_sources", "forced_photometry", "affine_wcs_fit"]


def detect_sources(images: DataFrame, scale_deg_px: float,
                   threshold: int = 255,
                   image_id: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Every pixel whose channels all reach ``threshold``, as a source
    row with continuous pixel-center coordinates and sky position.

    ``images`` needs (image_id, bytes, w, h, fmt, ra, dec) — the same
    gnomonic pointing model as the cutout/mosaic operators (TAN about
    (ra, dec), RA toward -x, Dec toward +y, pixel (i, j) centered at
    (i + 0.5, j + 0.5)).

    Output: image_id, src_x, src_y (integer pixel), px, py (pixel
    center), ra, dec (degrees, 1e-6-rounded — JVM inverse-TAN of the
    pixel center about the pointing).

    Single-pixel thresholding is the exact-recovery detector for
    planted-spike payloads (imaging.synth_image_sources); real survey
    detection (PSF matched filters, deblending) would swap the kernel
    inside the same mapInPandas plumbing without touching the plan
    shape.
    """
    from ..sources import imaging

    sel = images.select(F.col(image_id).alias("image_id"), "ra", "dec",
                        "w", "h", "fmt", F.col(bytes_col).alias("payload"))

    def find(batches):
        for b in batches:
            out = {"image_id": [], "ra": [], "dec": [], "w": [], "h": [],
                   "src_x": [], "src_y": []}
            for r in b.itertuples(index=False):
                img = imaging.decode(r.payload, int(r.w), int(r.h), str(r.fmt))
                mask = (img >= threshold).all(axis=2)
                ys, xs = np.nonzero(mask)
                for x, y in zip(xs, ys):
                    out["image_id"].append(r.image_id)
                    out["ra"].append(float(r.ra))
                    out["dec"].append(float(r.dec))
                    out["w"].append(int(r.w))
                    out["h"].append(int(r.h))
                    out["src_x"].append(int(x))
                    out["src_y"].append(int(y))
            yield pd.DataFrame(out)

    det = sel.mapInPandas(
        find, "image_id long, ra double, dec double, w int, h int, "
              "src_x int, src_y int")

    # inverse TAN (JVM Column trig): pixel center -> tangent-plane
    # (xi, eta) -> unit vector in the (east, north, center) basis at the
    # pointing -> (ra, dec). Exact inverse of cutouts._tan_px_sql.
    s = F.lit(math.radians(scale_deg_px))
    pxc = F.col("src_x") + F.lit(0.5)
    pyc = F.col("src_y") + F.lit(0.5)
    xi = (F.col("w") / F.lit(2.0) - pxc) * s
    eta = (pyc - F.col("h") / F.lit(2.0)) * s
    a0, d0 = F.radians("ra"), F.radians("dec")
    den = F.sqrt(F.lit(1.0) + xi * xi + eta * eta)
    gx = (F.cos(d0) * F.cos(a0) - xi * F.sin(a0)
          - eta * F.sin(d0) * F.cos(a0)) / den
    gy = (F.cos(d0) * F.sin(a0) + xi * F.cos(a0)
          - eta * F.sin(d0) * F.sin(a0)) / den
    gz = (F.sin(d0) + eta * F.cos(d0)) / den
    ra = F.pmod(F.degrees(F.atan2(gy, gx)) + F.lit(360.0), F.lit(360.0))
    dec = F.degrees(F.asin(F.least(F.greatest(gz, F.lit(-1.0)),
                                   F.lit(1.0))))
    return det.select(
        "image_id", "src_x", "src_y",
        F.round(pxc, 6).alias("px"), F.round(pyc, 6).alias("py"),
        F.round(ra, 6).alias("src_ra"), F.round(dec, 6).alias("src_dec"))


def _target_windows(targets: DataFrame, images: DataFrame,
                    scale_deg_px: float, size_px: int, target_id: str,
                    image_id: str, window_kwargs: dict):
    """The ``size_px`` cutout windows of every (target, image) pair
    (:func:`~spatialindex_spark.operators.cutouts.cutout_windows`), and
    ``images`` narrowed for the pixel read-back by
    :func:`~spatialindex_spark.operators.cutouts.target_cell_ranges` when
    the ingest cell column, its level and max_dim_px are declared (the
    inputs the pairing used).  Above IN_SET_MAX matched ids the
    read-back's id filter is a semi-join that cannot prune the scan by
    itself; the ranges keep the bytes column READ only in matched
    neighborhoods at any match count (measured at 1M images / 22k
    matched: the unpruned semi-join scan read every bytes row)."""
    from .cutouts import (cutout_windows, pairing_radius_deg,
                          target_cell_ranges)

    win = cutout_windows(targets, images, scale_deg_px, size_px,
                         target_id=target_id, image_id=image_id,
                         **window_kwargs)
    cell_col = window_kwargs.get("cell_col")
    cell_level = window_kwargs.get("cell_level")
    mdp = window_kwargs.get("max_dim_px")
    if cell_col in images.columns and cell_level is not None \
            and mdp is not None:
        pred = target_cell_ranges(targets, pairing_radius_deg(
            scale_deg_px, mdp), cell_col, cell_level)
        if pred is not None:
            images = images.filter(pred)
    return win, images


def forced_photometry(targets: DataFrame, images: DataFrame,
                      scale_deg_px: float, aperture_px: int,
                      channel: int = 0,
                      target_id: str = "target_id",
                      image_id: str = "image_id",
                      bytes_col: str = "bytes",
                      max_images: int = 1_000_000,
                      **window_kwargs) -> DataFrame:
    """Forced aperture photometry: the summed pixel flux inside a
    (2*aperture_px+1)-square window centered on every FIXED catalog
    position, from every image whose footprint contains it — the
    time-domain measurement that turns a survey's epoch images into
    per-object lightcurves at positions detection would miss (faint or
    blended sources).

    Scale shape (100 TB): the (target, image) pairing is
    :func:`~spatialindex_spark.operators.cutouts.cutout_windows` — the
    image side is metadata-only (bytes never enter the window plan) and
    the targets get their ring-1 disc cells from one pandas UDF. Pixels
    are read back ONLY for matched images through
    :func:`~spatialindex_spark.operators.cutouts.pixel_readback`, the
    read-back of cutout_pixels (one bounded driver read, the distinct-id
    IN-set pushed into the parquet scan, one decode per image for all
    its windows); each flux is produced inside one Arrow batch, so no
    shuffle ever carries pixels.

    Output: target_id, image_id, x0/x1/y0/y1, complete, npix,
    flux (sum over ``channel``, exact int64).
    """
    from .cutouts import pixel_readback

    win, imgs = _target_windows(targets, images, scale_deg_px,
                                2 * aperture_px + 1, target_id, image_id,
                                window_kwargs)
    return pixel_readback(
        imgs, win.select(target_id, image_id, "x0", "x1", "y0", "y1",
                         "complete"),
        channel, lambda w, cut: (cut.size, int(cut.astype(np.int64).sum())),
        "npix long, flux long", image_id, bytes_col, max_images,
        "forced_photometry")


def diff_image(epoch_a: DataFrame, epoch_b: DataFrame,
               key_col: str = "image_id", bytes_col: str = "bytes",
               channel: int = 0, threshold: int = 0) -> DataFrame:
    """Difference imaging: align two epochs of the same pointing by key
    and compute the per-image residual statistics — the image-subtraction
    primitive every transient pipeline runs before detection (the
    change IS the signal).

    Output per matched pair: shape_ok (dims equal), npix, n_above
    (pixels with ``|a - b| > threshold``), sum_abs (exact int64 L1
    residual), max_abs, flux_diff (signed net change). Stats are NULL
    when the epochs' dims disagree (shape_ok = false) — emitted, never
    silently dropped.

    Scale shape (100 TB): ONE equi-join shuffle on the pointing key is
    the whole plan — and it is the one shuffle that MUST carry pixels
    (the residual needs both frames in one task). Over bucketed tables
    (plans/session.write_bucketed) the join is Exchange-free, so the
    epochs' pixels never move at all; the subtraction runs in one Arrow
    batch per pair and the output carries only 8-byte stats.
    """
    sa, sb = "_a", "_b"
    a = epoch_a.select(F.col(key_col),
                       *[F.col(c).alias(c + sa)
                         for c in (bytes_col, "w", "h", "fmt")])
    b = epoch_b.select(F.col(key_col),
                       *[F.col(c).alias(c + sb)
                         for c in (bytes_col, "w", "h", "fmt")])
    joined = a.join(b, key_col)
    kd = dict(joined.dtypes)[key_col]
    schema = (f"{key_col} {kd}, shape_ok boolean, npix long, "
              "n_above long, sum_abs long, max_abs long, flux_diff long")

    from ..sources import imaging

    def run(batches):
        for batch in batches:
            out = {k: [] for k in (key_col, "shape_ok", "npix", "n_above",
                                   "sum_abs", "max_abs", "flux_diff")}
            for r in batch.itertuples(index=False):
                d = r._asdict()
                out[key_col].append(d[key_col])
                ok = (int(d["w" + sa]) == int(d["w" + sb])
                      and int(d["h" + sa]) == int(d["h" + sb]))
                out["shape_ok"].append(ok)
                if not ok:
                    for k in ("npix", "n_above", "sum_abs", "max_abs",
                              "flux_diff"):
                        out[k].append(None)
                    continue
                ia = imaging.decode(d[bytes_col + sa], int(d["w" + sa]),
                                    int(d["h" + sa]), str(d["fmt" + sa]))
                ib = imaging.decode(d[bytes_col + sb], int(d["w" + sb]),
                                    int(d["h" + sb]), str(d["fmt" + sb]))
                diff = (ia[:, :, channel].astype(np.int64)
                        - ib[:, :, channel].astype(np.int64))
                ad = np.abs(diff)
                out["npix"].append(int(diff.size))
                out["n_above"].append(int((ad > threshold).sum()))
                out["sum_abs"].append(int(ad.sum()))
                out["max_abs"].append(int(ad.max()) if diff.size else 0)
                out["flux_diff"].append(int(diff.sum()))
            yield pd.DataFrame(out)

    return joined.mapInPandas(run, schema)


def affine_wcs_fit(matches: DataFrame, image_col: str = "image_id",
                   u_col: str = "u", v_col: str = "v",
                   ra_col: str = "ra", dec_col: str = "dec",
                   sky_quant: int = 1_000_000) -> DataFrame:
    """Per-image affine astrometric solution (plate solve) from matched
    star pairs: given rows (image, pixel u, pixel v, catalog ra, dec) —
    the output of detect_sources + crossmatch against a reference
    catalog — fit the 6-parameter linear WCS

        ra  = a*u + b*v + c        dec = d*u + e*v + f

    per image by least squares.  This is the calibration step between
    detection and catalog publication (the inverse problem of the
    pixel->sky transform detect_sources applies with an ASSUMED scale).

    Determinism & scale shape: one partial-agg groupBy per image
    accumulates the 11 sufficient statistics as EXACT int64 sums (pixel
    coords cast to long; sky coords quantized to ``sky_quant`` units —
    1e-6 deg = 3.6 mas default), then the two 3x3 normal systems are
    solved in closed form (Cramer) as fixed-shape double expressions a
    SQL oracle replays bit-identically (same textual-mirror discipline
    as timedomain.lomb_scargle).  Images with < 3 stars or a singular
    design (collinear stars) emit NULL coefficients rather than
    dropping.  No window, no join, one narrow shuffle of 11 longs per
    image — at 10^12 images this is the cheapest possible shape.
    """
    u = F.col(u_col).cast("long")
    v = F.col(v_col).cast("long")
    x = F.round(F.col(ra_col) * sky_quant).cast("long")
    y = F.round(F.col(dec_col) * sky_quant).cast("long")
    g = (matches.select(F.col(image_col).alias("image_id"),
                        u.alias("_u"), v.alias("_v"),
                        x.alias("_x"), y.alias("_y"))
         .groupBy("image_id")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("_u").alias("_su"), F.sum("_v").alias("_sv"),
              F.sum(F.col("_u") * F.col("_u")).alias("_suu"),
              F.sum(F.col("_v") * F.col("_v")).alias("_svv"),
              F.sum(F.col("_u") * F.col("_v")).alias("_suv"),
              F.sum(F.col("_u") * F.col("_x")).alias("_sux"),
              F.sum(F.col("_v") * F.col("_x")).alias("_svx"),
              F.sum("_x").alias("_sx"),
              F.sum(F.col("_u") * F.col("_y")).alias("_suy"),
              F.sum(F.col("_v") * F.col("_y")).alias("_svy"),
              F.sum("_y").alias("_sy")))
    n = F.col("n").cast("double")
    su, sv = F.col("_su").cast("double"), F.col("_sv").cast("double")
    suu, svv = F.col("_suu").cast("double"), F.col("_svv").cast("double")
    suv = F.col("_suv").cast("double")
    det = (suu * (svv * n - sv * sv) - suv * (suv * n - su * sv)
           + su * (suv * sv - svv * su))

    def solve(s1, s2, s0):
        # Cramer columns for rhs (s1, s2, s0) = (sum u*t, sum v*t, sum t)
        da = (s1 * (svv * n - sv * sv) - suv * (s2 * n - sv * s0)
              + su * (s2 * sv - svv * s0))
        db = (suu * (s2 * n - sv * s0) - s1 * (suv * n - su * sv)
              + su * (suv * s0 - s2 * su))
        dc = (suu * (svv * s0 - sv * s2) - suv * (suv * s0 - su * s2)
              + s1 * (suv * sv - svv * su))
        return da, db, dc

    q = float(sky_quant)
    ok = (F.col("n") >= 3) & (det != 0)
    cols = {}
    for nm, (s1, s2, s0) in {
        ("a", "b", "c"): (F.col("_sux").cast("double"),
                          F.col("_svx").cast("double"),
                          F.col("_sx").cast("double")),
        ("d", "e", "f"): (F.col("_suy").cast("double"),
                          F.col("_svy").cast("double"),
                          F.col("_sy").cast("double")),
    }.items():
        da, db, dc = solve(s1, s2, s0)
        # + 0.0 canonicalizes IEEE -0.0 to +0.0 (round() may return either
        # sign of zero depending on the engine; byte-level oracles care)
        cols[nm[0]] = F.when(ok, F.round((da / det) / F.lit(q), 9) + F.lit(0.0))
        cols[nm[1]] = F.when(ok, F.round((db / det) / F.lit(q), 9) + F.lit(0.0))
        cols[nm[2]] = F.when(ok, F.round((dc / det) / F.lit(q), 9) + F.lit(0.0))
    return g.select("image_id", F.col("n").alias("n_stars"),
                    *[cols[k].alias(k) for k in "abcdef"])


def source_moments(targets: DataFrame, images: DataFrame,
                   scale_deg_px: float, aperture_px: int,
                   channel: int = 0,
                   target_id: str = "target_id",
                   image_id: str = "image_id",
                   bytes_col: str = "bytes",
                   max_images: int = 1_000_000,
                   **window_kwargs) -> DataFrame:
    """Windowed flux-weighted shape measurement (the SExtractor-style
    first + central second image moments) at fixed catalog positions:
    centroid (xbar, ybar) and central second moments (cxx, cyy, cxy)
    of the pixel flux inside a (2*aperture_px+1)-square window, from
    every image whose footprint contains the position — the morphology
    stage of a detection pipeline (ellipticity/size from cxx/cyy/cxy).

    Scale shape: identical to :func:`forced_photometry` (metadata-only
    window pairing via cutout_windows, the pixel read-back of
    cutout_pixels with one decode per image) — no shuffle carries
    pixels.

    Output: the six EXACT int64 sufficient statistics (s_v, s_vx, s_vy,
    s_vxx, s_vxy, s_vyy over absolute pixel indices) plus the derived
    moments as fixed IEEE trees over them, NULL when the window flux is
    zero — so the whole measurement is SQL-replayable over a
    formula-pixel payload (imaging.synth_image_photometric).
    """
    from .cutouts import pixel_readback

    win, imgs = _target_windows(targets, images, scale_deg_px,
                                2 * aperture_px + 1, target_id, image_id,
                                window_kwargs)
    sums = ("s_v", "s_vx", "s_vy", "s_vxx", "s_vxy", "s_vyy")

    def moments(w, cut):
        v = cut.astype(np.int64)
        xs = np.arange(w["x0"], w["x1"], dtype=np.int64)[None, :]
        ys = np.arange(w["y0"], w["y1"], dtype=np.int64)[:, None]
        return [int(t.sum()) for t in (v, v * xs, v * ys, v * xs * xs,
                                       v * xs * ys, v * ys * ys)]

    m = pixel_readback(
        imgs, win.select(target_id, image_id, "x0", "x1", "y0", "y1",
                         "complete"),
        channel, moments, ", ".join(f"{s} long" for s in sums), image_id,
        bytes_col, max_images, "source_moments")
    sv = F.col("s_v")
    xb = F.col("s_vx") / sv
    yb = F.col("s_vy") / sv
    # fixed IEEE trees, textually mirrored in the SQL oracle
    cxx = F.col("s_vxx") / sv - (F.col("s_vx") / sv) * (F.col("s_vx") / sv)
    cyy = F.col("s_vyy") / sv - (F.col("s_vy") / sv) * (F.col("s_vy") / sv)
    cxy = F.col("s_vxy") / sv - (F.col("s_vx") / sv) * (F.col("s_vy") / sv)

    def nz(c):
        return F.round(F.when(sv > 0, c), 9)

    return m.select(target_id, image_id, "complete", *sums,
                    nz(xb).alias("xbar"), nz(yb).alias("ybar"),
                    nz(cxx).alias("cxx"), nz(cyy).alias("cyy"),
                    nz(cxy).alias("cxy"))


def annulus_photometry(targets: DataFrame, images: DataFrame,
                       scale_deg_px: float, aperture_px: int,
                       annulus_in_px: int, annulus_out_px: int,
                       channel: int = 0,
                       target_id: str = "target_id",
                       image_id: str = "image_id",
                       bytes_col: str = "bytes",
                       max_images: int = 1_000_000,
                       **window_kwargs) -> DataFrame:
    """Background-subtracted aperture photometry: flux inside the
    (2*aperture_px+1)-square aperture minus the local background
    estimated from the square annulus between the inner and outer
    windows (``aperture_px <= annulus_in_px < annulus_out_px``) — the
    standard local-sky-subtraction measurement.

        bkg_mean = (flux_out - flux_in) / (n_out - n_in)
        net_flux = flux_ap - n_ap * bkg_mean       (NULL if annulus empty)

    One cutout_windows pairing at the OUTER size plus a 1-px margin, read
    back like forced_photometry (one decode per image for all its
    windows): all three nested windows are sliced from the same margin
    window, so the scale shape is exactly forced_photometry's with three
    pairs of sums instead of one. All windows derive from
    floor(round(px, 6)) — the 1e-6-rounded pixel coordinate both engines
    share — so the oracle replays the window arithmetic, the three
    integer sums, and the subtraction tree in SQL.
    """
    if not (0 <= aperture_px <= annulus_in_px < annulus_out_px):
        raise ValueError("need 0 <= aperture <= annulus_in < annulus_out")
    from .cutouts import pixel_readback

    # the outer window plus a 1-px margin: floor(round(px, 6)) exceeds
    # the floor(px) cutout_windows centers on by at most 1, so the
    # margin holds all three windows
    win, imgs = _target_windows(targets, images, scale_deg_px,
                                2 * annulus_out_px + 3, target_id, image_id,
                                window_kwargs)
    cols = ("n_ap", "flux_ap", "n_in", "flux_in", "n_out", "flux_out")
    radii = (aperture_px, annulus_in_px, annulus_out_px)

    def rings(w, cut):
        # absolute windows clipped to the cut, which is the margin window
        # clipped to the image: the same as clipping them to the image
        fx, fy = math.floor(w["px"]), math.floor(w["py"])
        out = []
        for r in radii:
            c = cut[max(fy - r, w["y0"]) - w["y0"]:
                    min(fy + r + 1, w["y1"]) - w["y0"],
                    max(fx - r, w["x0"]) - w["x0"]:
                    min(fx + r + 1, w["x1"]) - w["x0"]]
            out += [c.size, int(c.astype(np.int64).sum())]
        return out

    m = pixel_readback(
        imgs, win.select(target_id, image_id, "x0", "x1", "y0", "y1", "px",
                         "py"),
        channel, rings, ", ".join(f"{c} long" for c in cols), image_id,
        bytes_col, max_images, "annulus_photometry")
    n_bkg = F.col("n_out") - F.col("n_in")
    s_bkg = F.col("flux_out") - F.col("flux_in")
    bkg = s_bkg / n_bkg
    net = F.col("flux_ap") - F.col("n_ap") * (s_bkg / n_bkg)
    return m.select(
        target_id, image_id, *cols,
        F.round(F.when(n_bkg > 0, bkg), 9).alias("bkg_mean"),
        F.round(F.when(n_bkg > 0, net), 9).alias("net_flux"))
