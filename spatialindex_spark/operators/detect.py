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
    rides crossmatch's broadcast ring map when an ingest-time cell
    column is supplied. Pixels are read back ONLY for matched images
    (distinct-id IN-set pushed into the parquet scan, same pattern as
    cutout_pixels) and each flux is produced inside one Arrow batch —
    the shuffle carries window coordinates and 8-byte sums, never
    pixels.

    Output: target_id, image_id, x0/x1/y0/y1, complete, npix,
    flux (sum over ``channel``, exact int64).
    """
    from .cutouts import cutout_windows
    from ..sources import imaging

    win = cutout_windows(targets, images, scale_deg_px,
                         2 * aperture_px + 1, target_id=target_id,
                         image_id=image_id, **window_kwargs)
    # materialize the pairing ONCE: wsel feeds the matched-id driver
    # reads, the semi-join/IN-set build AND the broadcast join below —
    # without this the crossmatch recomputes ~5x per call (measured
    # ~3 s each at 1M images). Size = the pairing itself (targets x
    # overlapping images — the operator's own working set, which every
    # path must compute at least once to count matched ids; stored
    # MEMORY_AND_DISK). The max_images guard bounds DISTINCT matched
    # images downstream, not these pairing rows.
    wsel = win.select(target_id, image_id, "x0", "x1", "y0", "y1",
                      "complete").localCheckpoint(eager=True)
    from .cutouts import readback_images
    # group the windows PER IMAGE before they meet the payload (guide
    # §4.2 / §2.3): a target list averages several windows per matched
    # image, and the old per-(target, image) broadcast join duplicated
    # every image's bytes once per window into the Arrow boundary and
    # re-decompressed the payload per window. One row per image ships
    # the bytes once and decode_windows shares the decompress/dequant
    # across its windows; flux/npix are bit-identical (same per-window
    # block math).
    wgrp = (wsel.groupBy(image_id)
            .agg(F.collect_list(F.struct(
                F.col(target_id).alias("_t"), "x0", "x1", "y0", "y1",
                "complete")).alias("_wins")))
    matched = (readback_images(images, targets, scale_deg_px,
                               window_kwargs, image_id, bytes_col,
                               wsel, max_images, "forced_photometry")
               .join(F.broadcast(wgrp), image_id))

    id_dtype = dict(matched.dtypes)[image_id]
    tid_dtype = dict(wsel.dtypes)[target_id]
    schema = (f"{target_id} {tid_dtype}, {image_id} {id_dtype}, "
              "x0 int, x1 int, y0 int, y1 int, complete boolean, "
              "npix long, flux long")

    def run(batches):
        # window-only decode (guide §4.2 / §1.2 per-task work): the flux
        # needs a (2a+1)^2 slice, so full-image decode — per-row python
        # dict packing included — was pure overhead. decode_windows skips
        # the copy/reshape for raw/z and runs the IDCT only on the 8x8
        # blocks under each window for dct (bit-identical pixels, parity-
        # tested), decompressing each payload once for ALL its windows.
        for b in batches:
            wa, ha = b["w"].to_numpy(), b["h"].to_numpy()
            fmta, bytesa = b["fmt"].to_numpy(), b[bytes_col].to_numpy()
            winsa = b["_wins"].to_numpy()
            ids = b[image_id].to_numpy()
            out = {target_id: [], image_id: [], "x0": [], "x1": [],
                   "y0": [], "y1": [], "complete": [], "npix": [],
                   "flux": []}
            for i in range(len(b)):
                wins = winsa[i]
                coords = [(int(d["x0"]), int(d["x1"]),
                           int(d["y0"]), int(d["y1"])) for d in wins]
                cuts = imaging.decode_windows(
                    bytesa[i], int(wa[i]), int(ha[i]), str(fmta[i]),
                    coords, channel)
                for d, (x0, x1, y0, y1), cut in zip(wins, coords, cuts):
                    out[target_id].append(d["_t"])
                    out[image_id].append(ids[i])
                    out["x0"].append(x0)
                    out["x1"].append(x1)
                    out["y0"].append(y0)
                    out["y1"].append(y1)
                    out["complete"].append(bool(d["complete"]))
                    out["npix"].append(cut.size)
                    out["flux"].append(int(cut.astype(np.int64).sum()))
            if out[image_id]:  # empty object-dtype frames break the
                yield pd.DataFrame(out)  # Arrow cast to the int schema

    return matched.mapInPandas(run, schema)


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
    window pairing via cutout_windows, IN-set pushdown for the pixel
    read-back, one Arrow batch per measurement) — the shuffle carries
    six 8-byte sums per (target, image), never pixels.

    Output: the six EXACT int64 sufficient statistics (s_v, s_vx, s_vy,
    s_vxx, s_vxy, s_vyy over absolute pixel indices) plus the derived
    moments as fixed IEEE trees over them, NULL when the window flux is
    zero — so the whole measurement is SQL-replayable over a
    formula-pixel payload (imaging.synth_image_photometric).
    """
    from .cutouts import cutout_windows
    from ..sources import imaging

    win = cutout_windows(targets, images, scale_deg_px,
                         2 * aperture_px + 1, target_id=target_id,
                         image_id=image_id, **window_kwargs)
    # materialize the pairing ONCE: wsel feeds the matched-id driver
    # reads, the semi-join/IN-set build AND the broadcast join below —
    # without this the crossmatch recomputes ~5x per call (measured
    # ~3 s each at 1M images). Size = the pairing itself (targets x
    # overlapping images — the operator's own working set, which every
    # path must compute at least once to count matched ids; stored
    # MEMORY_AND_DISK). The max_images guard bounds DISTINCT matched
    # images downstream, not these pairing rows.
    wsel = win.select(target_id, image_id, "x0", "x1", "y0", "y1",
                      "complete").localCheckpoint(eager=True)
    from .cutouts import readback_images
    matched = (readback_images(images, targets, scale_deg_px,
                               window_kwargs, image_id, bytes_col,
                               wsel, max_images, "source_moments")
               .join(F.broadcast(wsel), image_id))

    id_dtype = dict(matched.dtypes)[image_id]
    tid_dtype = dict(matched.dtypes)[target_id]
    sums = ("s_v", "s_vx", "s_vy", "s_vxx", "s_vxy", "s_vyy")
    schema = (f"{target_id} {tid_dtype}, {image_id} {id_dtype}, "
              "complete boolean, " + ", ".join(f"{s} long" for s in sums))

    def run(batches):
        for b in batches:
            out = {k: [] for k in (target_id, image_id, "complete",
                                   *sums)}
            for r in b.itertuples(index=False):
                d = r._asdict()
                img = imaging.decode(d[bytes_col], int(d["w"]),
                                     int(d["h"]), str(d["fmt"]))
                x0, x1 = int(d["x0"]), int(d["x1"])
                y0, y1 = int(d["y0"]), int(d["y1"])
                v = img[y0:y1, x0:x1, channel].astype(np.int64)
                xs = np.arange(x0, x1, dtype=np.int64)[None, :]
                ys = np.arange(y0, y1, dtype=np.int64)[:, None]
                out[target_id].append(d[target_id])
                out[image_id].append(d[image_id])
                out["complete"].append(bool(d["complete"]))
                out["s_v"].append(int(v.sum()))
                out["s_vx"].append(int((v * xs).sum()))
                out["s_vy"].append(int((v * ys).sum()))
                out["s_vxx"].append(int((v * xs * xs).sum()))
                out["s_vxy"].append(int((v * xs * ys).sum()))
                out["s_vyy"].append(int((v * ys * ys).sum()))
            yield pd.DataFrame(out)

    m = matched.mapInPandas(run, schema)
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

    One cutout_windows pairing at the OUTER size and ONE decode per
    (target, image): all three nested windows are sliced from the same
    frame inside a single Arrow batch, so the scale shape is exactly
    forced_photometry's with three 8-byte sums instead of one. All
    windows derive from floor(round(px, 6)) — the 1e-6-rounded pixel
    coordinate both engines share — so the oracle replays the window
    arithmetic, the three integer sums, and the subtraction tree in SQL.
    """
    if not (0 <= aperture_px <= annulus_in_px < annulus_out_px):
        raise ValueError("need 0 <= aperture <= annulus_in < annulus_out")
    from .cutouts import cutout_windows
    from ..sources import imaging

    win = cutout_windows(targets, images, scale_deg_px,
                         2 * annulus_out_px + 1, target_id=target_id,
                         image_id=image_id, **window_kwargs)
    # one materialization for the same reason as forced_photometry
    wsel = win.select(target_id, image_id, "px", "py") \
              .localCheckpoint(eager=True)
    from .cutouts import readback_images
    matched = (readback_images(images, targets, scale_deg_px,
                               window_kwargs, image_id, bytes_col,
                               wsel, max_images, "annulus_photometry")
               .join(F.broadcast(wsel), image_id))

    id_dtype = dict(matched.dtypes)[image_id]
    tid_dtype = dict(matched.dtypes)[target_id]
    cols = ("n_ap", "flux_ap", "n_in", "flux_in", "n_out", "flux_out")
    schema = (f"{target_id} {tid_dtype}, {image_id} {id_dtype}, "
              + ", ".join(f"{c} long" for c in cols))
    radii = (aperture_px, annulus_in_px, annulus_out_px)

    def run(batches):
        for b in batches:
            out = {k: [] for k in (target_id, image_id, *cols)}
            for r in b.itertuples(index=False):
                d = r._asdict()
                img = imaging.decode(d[bytes_col], int(d["w"]),
                                     int(d["h"]), str(d["fmt"]))
                w, h = int(d["w"]), int(d["h"])
                fx = int(np.floor(float(d["px"])))
                fy = int(np.floor(float(d["py"])))
                out[target_id].append(d[target_id])
                out[image_id].append(d[image_id])
                for rad, nk, fk in zip(radii, cols[::2], cols[1::2]):
                    x0 = max(0, fx - rad)
                    x1 = min(w, fx - rad + 2 * rad + 1)
                    y0 = max(0, fy - rad)
                    y1 = min(h, fy - rad + 2 * rad + 1)
                    cut = img[y0:y1, x0:x1, channel].astype(np.int64)
                    out[nk].append(int(cut.size))
                    out[fk].append(int(cut.sum()))
            yield pd.DataFrame(out)

    m = matched.mapInPandas(run, schema)
    n_bkg = F.col("n_out") - F.col("n_in")
    s_bkg = F.col("flux_out") - F.col("flux_in")
    bkg = s_bkg / n_bkg
    net = F.col("flux_ap") - F.col("n_ap") * (s_bkg / n_bkg)
    return m.select(
        target_id, image_id, *cols,
        F.round(F.when(n_bkg > 0, bkg), 9).alias("bkg_mean"),
        F.round(F.when(n_bkg > 0, net), 9).alias("net_flux"))
