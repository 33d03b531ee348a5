"""Image cutout extraction and mosaic coaddition (image-axis operators).

A cutout service is the canonical workload over a sky-indexed image
table (the reference's deployment context: cell-indexed image metadata
queried by position — README.md:9-24 describes exactly this DBMS-side
use): given a target list, find every image whose footprint contains
each target and cut a ``size_px`` × ``size_px`` pixel window centered
on it.  Mosaic coaddition is the inverse aggregation: resample every
image overlapping a sky cell onto that cell's common pixel grid and
average them (weighted mean coadd).

Geometry model
--------------
Each image is a ``w`` × ``h`` pixel array in a gnomonic (TAN)
projection about its pointing center ``(ra, dec)`` with a uniform
pixel scale (deg/px) and axes aligned to east/north (the FITS TAN
convention with a diagonal CD matrix, no rotation term).  Continuous
pixel coordinates put pixel ``(i, j)``'s footprint at
``[i, i+1) x [j, j+1)`` and the image center at ``(w/2, h/2)``; RA
grows toward -x (sky convention), Dec toward +y:

    D   = sin(dec0) sin(dec) + cos(dec0) cos(dec) cos(ra - ra0)
    xi  = cos(dec) sin(ra - ra0) / D            (east,  radians)
    eta = (cos(dec0) sin(dec)
           - sin(dec0) cos(dec) cos(ra - ra0)) / D   (north, radians)
    px  = w/2 - xi  / scale_rad
    py  = h/2 + eta / scale_rad

The footprint half-diagonal ``scale * hypot(w, h) / 2`` bounds the
center-to-corner separation (gnomonic projection only stretches radial
distances outward), so a cone of that radius around a target contains
every image whose footprint can reach it — the candidate join is
crossmatch's ring-1 keying (J3).

Scale shape (100 TB)
--------------------
- ``cutout_windows``: one ring-keyed equi-join.  The target list (a
  human-sized request) explodes into its ring-1 disc cells through one
  pandas UDF over (ra, dec), so no ring map is built or broadcast; the
  image side is a METADATA-ONLY scan (the ``bytes`` column never enters
  ReadSchema, plan-asserted in tests) keyed JVM-side by a shiftright of
  the ingest-time cell column; the window math is JVM trig (SQL
  expressions) on the matched pairs.  Nothing about the image table's size appears on
  the driver.
- ``pixel_readback`` (behind ``cutout_pixels`` and the photometry
  operators of operators/detect.py): only MATCHED image rows are re-read
  — the per-image window lists are read once (bounded, with a guard: a
  cutout request is a human-sized target list), their ids become an
  IN-set pushed into the scan so parquet row-group stats skip unmatched
  stripes, and bytes decode in Arrow batches via mapInPandas with the
  windows in the closure, each payload once for all its windows.  Above
  IN_SET_MAX images the read-back is a broadcast left-semi join instead.
- ``coadd_mosaic``: images shuffle ONCE keyed by output tile cell
  (ring-1 duplication is pruned by a center-distance bound before the
  exchange, so the dup factor stays ~1 except at tile corners); the
  per-tile accumulation is an applyInPandas over cell groups — the
  same co-location shape as any 100-TB groupBy, no driver state.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.geometry import RAD_PER_DEG
from ..functions.healpix import disc, max_pix_rad, pix2vec
from ..functions.cover import in_predicate
from .joins import (_dot_sql, hpx_cell_key, match_level_rings,
                    radec_disc_udf, ring_explode)

_log = logging.getLogger(__name__)

__all__ = ["cutout_windows", "cutout_pixels", "coadd_mosaic",
           "mosaic_pyramid", "tan_pix_np", "tile_grid_radec"]


def tan_pix_np(ra, dec, ra0, dec0, w, h, scale_deg):
    """Numpy twin of the JVM window math (shared by the pixel path and
    tests): continuous pixel coords of (ra, dec) in an image pointed at
    (ra0, dec0).  Returns (px, py, valid) — ``valid`` is False on the
    anti-tangent hemisphere where the projection diverges."""
    ra, dec = np.radians(ra), np.radians(dec)
    ra0, dec0 = np.radians(ra0), np.radians(dec0)
    s = np.radians(scale_deg)
    cosd, sind = np.cos(dec), np.sin(dec)
    cosd0, sind0 = np.cos(dec0), np.sin(dec0)
    cosdra = np.cos(ra - ra0)
    den = sind0 * sind + cosd0 * cosd * cosdra
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = cosd * np.sin(ra - ra0) / den
        eta = (cosd0 * sind - sind0 * cosd * cosdra) / den
    return (np.asarray(w) / 2.0 - xi / s,
            np.asarray(h) / 2.0 + eta / s,
            den > 0)


def _tan_px_sql(tra, tdec, ira, idec, w, h, scale_deg):
    """SQL twin of :func:`tan_pix_np`: (px, py, den) expression texts of
    the gnomonic pixel coords of target (tra, tdec) in the frame of an
    image at (ira, idec), over column names or literals.  SQL text, not
    Column operators: in PySpark each Column operator costs several py4j
    round trips, and this tree has ~40 of them (with Column operators
    the pairing and window math took ~0.4 s of frame build per cutout
    request, ~0.2 s as SQL text)."""
    at, dt, a0, d0 = (f"RADIANS({c})" for c in (tra, tdec, ira, idec))
    s = f"CAST('{math.radians(scale_deg)!r}' AS DOUBLE)"
    cosd, sind = f"COS({dt})", f"SIN({dt})"
    cosd0, sind0 = f"COS({d0})", f"SIN({d0})"
    cosdra = f"COS({at} - {a0})"
    den = f"({sind0} * {sind} + {cosd0} * {cosd} * {cosdra})"
    xi = f"({cosd} * SIN({at} - {a0}) / {den})"
    eta = f"(({cosd0} * {sind} - {sind0} * {cosd} * {cosdra}) / {den})"
    return f"{w} / 2.0D - {xi} / {s}", f"{h} / 2.0D + {eta} / {s}", den


def pair_windows(pairs: DataFrame, scale_deg_px: float, size_px: int,
                 target_id: str, image_id: str) -> DataFrame:
    """The clipped ``size_px`` cutout window of every (target, image) pair
    of ``pairs`` (columns _tid, _iid, ra_t, dec_t, ra_i, dec_i, w_i, h_i)
    whose target lands inside the image: :func:`cutout_windows`' output
    columns, shared with the streaming cutout.  A target inside the
    footprint is within the half-diagonal (atan(r) <= r in the tangent
    plane), so no separation filter is needed before this one."""
    px, py, den = _tan_px_sql("ra_t", "dec_t", "ra_i", "dec_i", "w_i", "h_i",
                              scale_deg_px)
    half = size_px // 2
    return (pairs.selectExpr("_tid", "_iid", "w_i", "h_i", f"{px} AS _px",
                             f"{py} AS _py", f"{den} AS _den")
            .where("_den > 0 AND _px >= 0 AND _px < w_i AND _py >= 0 "
                   "AND _py < h_i")
            .selectExpr("_tid", "_iid", "_px", "_py", "w_i", "h_i",
                        f"CAST(FLOOR(_px) AS INT) - {half} AS _x0r",
                        f"CAST(FLOOR(_py) AS INT) - {half} AS _y0r")
            .selectExpr("_tid", "_iid", "ROUND(_px, 6) AS px",
                        "ROUND(_py, 6) AS py", "GREATEST(0, _x0r) AS x0",
                        f"LEAST(CAST(w_i AS INT), _x0r + {size_px}) AS x1",
                        "GREATEST(0, _y0r) AS y0",
                        f"LEAST(CAST(h_i AS INT), _y0r + {size_px}) AS y1")
            .selectExpr("*", f"x1 - x0 = {size_px} AND y1 - y0 = {size_px}"
                             " AS complete")
            .toDF(target_id, image_id, "px", "py", "x0", "x1", "y0", "y1",
                  "complete"))


def pairing_radius_deg(scale_deg_px: float, max_dim_px: float) -> float:
    """Center-to-corner pairing radius shared by :func:`cutout_windows`
    (the pairing join) and the photometry read-back's
    :func:`target_cell_ranges` scan pushdown (operators/detect.py).
    ONE definition on purpose: the pushdown is sound only while its
    radius >= the pairing's — diverging copies would silently drop
    matched rows from the bytes scan.  The +1 px margin absorbs the
    rounding of the continuous pixel coords (never admits a false
    negative; the exact in-bounds filter stays authoritative)."""
    return scale_deg_px * (math.hypot(max_dim_px, max_dim_px) / 2.0 + 1.0)


def cutout_windows(targets: DataFrame, images: DataFrame,
                   scale_deg_px: float, size_px: int,
                   target_id: str = "target_id",
                   image_id: str = "image_id",
                   max_dim_px: int | None = None,
                   level: int | None = None,
                   cell_col: str | None = None,
                   cell_level: int | None = None) -> DataFrame:
    """Every (target, image) pair where the target lands inside the
    image footprint, with the clipped ``size_px`` cutout window.

    ``targets`` needs (target_id, ra, dec); ``images`` needs
    (image_id, ra, dec, w, h).  The pairing is crossmatch's ring-keyed
    equi-join at the pairing radius: each target explodes into the cells
    of its ring-1 disc through ONE pandas UDF over (ra, dec)
    (:func:`~.joins.radec_disc_udf` — no ring map is built or broadcast),
    and each image is keyed by its own cell.  Pass the ingest-time
    nested-HPX cell column via ``cell_col``/``cell_level`` to key the
    image side entirely JVM-side (a guarded shiftright of it).  A target
    with a null, NaN or infinite coordinate gets no windows.

    ``max_dim_px`` bounds max(w, h) across the table; when omitted it
    is read with one scalar aggregate (a single-row driver read, the
    same budget class as count-bounds).

    Output columns: target_id, image_id, px, py (continuous pixel
    coords of the target, rounded to 1e-6 px), x0/x1/y0/y1 (the
    clipped half-open window), complete (window not clipped).
    """
    if max_dim_px is None:
        max_dim_px = images.agg(
            F.max(F.greatest(F.col("w"), F.col("h")))).first()[0]
        if max_dim_px is None:  # empty input: zero rows out, not a crash
            max_dim_px = 1
    radius = pairing_radius_deg(scale_deg_px, max_dim_px)
    use_cell = cell_col is not None and cell_level is not None
    lvl, rings = match_level_rings(radius, level,
                                   cell_level if use_cell else None)
    if use_cell:
        ikey = hpx_cell_key(cell_col, cell_level, lvl)
    else:
        from ..functions.udfs import hpx_udf
        ikey = hpx_udf(lvl)("ra", "dec")

    pairs = targets.select(
        F.explode(radec_disc_udf(lvl, rings)("ra", "dec")).alias("_mc"),
        target_id, "ra", "dec").toDF("_mc", "_tid", "ra_t", "dec_t").join(
        images.select(ikey.alias("_mc"), image_id, "ra", "dec", "w", "h")
        .toDF("_mc", "_iid", "ra_i", "dec_i", "w_i", "h_i"), "_mc")
    return pair_windows(pairs, scale_deg_px, size_px, target_id, image_id)


#: matched-id count above which the pixel read-back switches from a
#: literal IN-set (reaches parquet row-group stats) to a broadcast
#: left-semi join — a 100k+-literal IN-list bloats the Catalyst plan
#: and every task binary long before any memory limit
IN_SET_MAX = 20_000

#: merged-range count above which target_cell_ranges gives up: a
#: multi-thousand-term Or(And(GtEq, Lt)) tree fails whole-stage codegen
#: (measured: the interpreted fallback evaluates the tree per ROW and
#: costs far more than the unpruned scan it saves), and scattered
#: targets that produce this many disjoint ranges cover so much of the
#: id space that row-group pruning would keep ~everything anyway. The
#: pushdown pays off exactly for COMPACT target sets (a survey field, a
#: cluster region), where a handful of ranges excise most of the table.
CELL_RANGE_MAX = 64


def target_cell_ranges(targets: DataFrame, radius_deg: float,
                       cell_col: str, cell_level: int):
    """Scan-pushdown predicate for the pixel READ-BACK of a
    target-driven pixel operator: every image that can pair with a
    target within ``radius_deg`` lies, at the crossmatch's match level
    L = min(pick_match_level(radius), cell_level), inside the ring-1
    disc of some target's cell (the same coverage theorem the pairing
    join rests on) — so the union of those discs, expanded to
    descendant-id RANGES at ``cell_level``, is a sound superset filter
    on the ingest-time cell column.

    Why this exists: above IN_SET_MAX matched ids the read-back's
    exact-id filter becomes a semi-join, which alone cannot prune the
    scan — a 2 % match would still READ 100 % of a 100-TB bytes
    column. This predicate is bounded by the TARGET count (x <= 9
    cells each, merged into contiguous ranges on the clustered sort
    key), never by the matched-image count. Returns ``None`` (caller
    keeps the unpruned scan) when the merged ranges exceed
    CELL_RANGE_MAX — scattered targets both break whole-stage codegen
    with a giant Or tree AND cover too much of the id space to prune —
    or when the radius needs more than ring-1 coverage.
    """
    from .joins import pick_match_level
    from ..functions.healpix import safe_ring1_rad
    from ..functions.udfs import hpx_udf

    lvl = min(pick_match_level(radius_deg), cell_level)
    if radius_deg * RAD_PER_DEG > safe_ring1_rad(lvl):
        _log.info("target_cell_ranges: radius %.4f deg needs ring-2+ at "
                  "level %d; scan pushdown disabled", radius_deg, lvl)
        return None  # would need ring-2+: not worth a driver loop here
    if cell_col in targets.columns:
        # targets already carry the ingest cell at cell_level (the same
        # column cutout_windows keys the pairing on): the ancestor at
        # lvl is a JVM shiftright through hpx_cell_key — incl. its
        # misuse guard — instead of an Arrow python-worker roundtrip
        from .joins import hpx_cell_key
        tc = hpx_cell_key(cell_col, cell_level, lvl)
    else:
        tc = hpx_udf(lvl)("ra", "dec")
    # NULL cells can't pair (the join drops them), so excluding them
    # keeps the predicate a sound superset of pairable images
    rows = (targets.select(tc.alias("_tc")).where(F.col("_tc").isNotNull())
            .distinct().limit(IN_SET_MAX + 1).collect())
    if len(rows) > IN_SET_MAX:  # same driver-read budget by definition
        return None
    pix = np.array([r["_tc"] for r in rows], dtype=np.int64)
    if pix.size == 0:
        return F.lit(False)
    cells = np.unique(disc(lvl, pix, 1))
    shift = 2 * (cell_level - lvl)
    los = cells << shift
    his = (cells + 1) << shift
    # merge contiguous/overlapping descendant ranges (neighbors cluster,
    # so this typically collapses ~9x)
    merged = []
    cur_lo, cur_hi = int(los[0]), int(his[0])
    for lo, hi in zip(los[1:], his[1:]):
        if int(lo) <= cur_hi:
            cur_hi = max(cur_hi, int(hi))
        else:
            merged.append((cur_lo, cur_hi))
            cur_lo, cur_hi = int(lo), int(hi)
    merged.append((cur_lo, cur_hi))
    if len(merged) > CELL_RANGE_MAX:
        # observability (r5 verdict item 6): a scattered target set
        # silently loses the bytes-scan pruning — say so once per call
        _log.info("target_cell_ranges: %d merged ranges exceed "
                  "CELL_RANGE_MAX=%d (scattered targets); scan pushdown "
                  "disabled", len(merged), CELL_RANGE_MAX)
        return None
    c = F.col(cell_col)
    preds = [(c >= F.lit(lo)) & (c < F.lit(hi)) for lo, hi in merged]
    # balanced OR tree: a left-chained OR of thousands of ranges
    # overflows Catalyst's recursive transforms; log-depth keeps the
    # same parquet-pushable Or(And(GtEq, Lt)) shape
    while len(preds) > 1:
        preds = [preds[i] | preds[i + 1] if i + 1 < len(preds)
                 else preds[i] for i in range(0, len(preds), 2)]
    return preds[0]


def _check_max_images(n: int, max_images: int, what: str) -> None:
    if n > max_images:
        raise ValueError(
            f"{what} matched > {max_images} distinct images; "
            "raise max_images or partition the target list")


def _semi_join_filter(images_sel: DataFrame, wid: DataFrame, image_id: str,
                      max_images: int, what: str) -> DataFrame:
    """``images_sel`` left-semi joined with the broadcast distinct-id
    frame ``wid`` (bounded by ``max_images``, loud raise beyond).  The
    plan stays constant-size however many ids matched; with runtime Bloom
    filters enabled Spark still pushes a scan-side filter."""
    # materialize the distinct-id projection ONCE — but BOUNDED (r5
    # advice): limit(max_images + 1) caps what the checkpoint can
    # materialize before the guard has passed, so a pathological id set
    # fails after at most max_images + 1 rows instead of after a full
    # materialization; when the guard passes, the limit is a no-op and
    # the checkpointed frame IS the complete distinct-id set, feeding
    # the count (local, cheap) and the broadcast build without
    # re-executing the pairing plan.
    wid = wid.limit(max_images + 1).localCheckpoint(eager=True)
    _check_max_images(wid.count(), max_images, what)
    return images_sel.join(F.broadcast(wid), image_id, "left_semi")


def pixel_readback(images: DataFrame, windows: DataFrame,
                   channel: int | None, measure, measured: str,
                   image_id: str, bytes_col: str, max_images: int,
                   what: str) -> DataFrame:
    """The one pixel read-back of the target-driven image operators
    (cutouts, forced, moment and annulus photometry): every window of
    ``windows`` measured on its decoded pixels.

    ``windows`` carries image_id and the clipped window x0/x1/y0/y1 plus
    any payload columns; ``images`` must carry (image_id, bytes, w, h,
    fmt).  ``measure(win, cut)`` gets one window as a dict of its columns
    and its crop ``[y0:y1, x0:x1, channel]`` (all channels for
    ``channel=None``) and returns the values of the ``measured`` DDL
    fields, in order.  Output: the window columns, then those fields.

    The windows are grouped per image and read ONCE by a bounded driver
    read (IN_SET_MAX + 1 images).  Up to IN_SET_MAX images, the read
    gives the IN-set pushed into the scan (row-group stats skip unmatched
    stripes) and the decode carries the window lists in its closure: the
    read-back is that read plus one scan-and-decode pass.  Above it, the
    windows are checkpointed and the read-back is a bounded broadcast
    left-semi join plus a broadcast join of the window lists.
    ``max_images`` guards both.  Either way one mapInPandas decodes each
    matched payload once for all its windows
    (:func:`~spatialindex_spark.sources.imaging.decode_windows`), so bytes
    cross the Arrow boundary once per image, not once per window.
    """
    cols = windows.columns
    names = cols + [f.split()[0] for f in measured.split(",")]
    schema = ", ".join(f"`{c}` {t}" for c, t in windows.dtypes) \
        + ", " + measured

    def grouped(w: DataFrame) -> DataFrame:
        return w.groupBy(image_id).agg(F.expr(
            f"collect_list(struct({', '.join(f'`{c}`' for c in cols)}))"
            " AS _wins"))

    isel = images.select(image_id, bytes_col, "w", "h", "fmt")
    head = grouped(windows).limit(IN_SET_MAX + 1).collect()
    if len(head) <= IN_SET_MAX:
        _check_max_images(len(head), max_images, what)
        wins_by_id = {r[0]: [w.asDict() for w in r[1]] for r in head}
        matched = isel.filter(in_predicate(image_id, list(wins_by_id)))

        def wins_of(b: pd.DataFrame):
            return [wins_by_id[i] for i in b[image_id]]
    else:
        # one materialization of the pairing: the semi-join's id build and
        # the window-list broadcast would otherwise each re-run it
        windows = windows.localCheckpoint(eager=True)
        matched = (_semi_join_filter(
                       isel, windows.select(image_id).distinct(), image_id,
                       max_images, what)
                   .join(F.broadcast(grouped(windows)), image_id))

        def wins_of(b: pd.DataFrame):
            return b["_wins"]

    from ..sources import imaging

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for data, w, h, fmt, wins in zip(b[bytes_col], b["w"], b["h"],
                                             b["fmt"], wins_of(b)):
                cuts = imaging.decode_windows(
                    data, int(w), int(h), str(fmt),
                    [(d["x0"], d["x1"], d["y0"], d["y1"]) for d in wins],
                    channel)
                rows += [[*d.values(), *measure(d, cut)]
                         for d, cut in zip(wins, cuts)]
            if rows:  # empty object-dtype frames break the Arrow cast
                yield pd.DataFrame(rows, columns=names)

    return matched.mapInPandas(run, schema)


def cutout_pixels(images: DataFrame, windows: DataFrame,
                  image_id: str = "image_id",
                  bytes_col: str = "bytes",
                  max_images: int = 1_000_000) -> DataFrame:
    """Extract the pixel windows computed by :func:`cutout_windows`
    through :func:`pixel_readback` (one bounded driver read, then one
    scan-and-decode pass with the IN-set pushed into the scan).

    ``images`` must carry (image_id, bytes, w, h, fmt).  Output pixels
    are re-encoded as raw uint8: image_id, target_id, x0/x1/y0/y1,
    cut_w, cut_h, data (raw bytes), mean_val.
    """
    def cut(win, c):
        return (c.shape[1], c.shape[0], c.astype(np.uint8).tobytes(),
                float(c.mean()) if c.size else float("nan"))

    return pixel_readback(
        images, windows.select(image_id, "target_id", "x0", "x1", "y0", "y1"),
        None, cut, "cut_w int, cut_h int, data binary, mean_val double",
        image_id, bytes_col, max_images, "cutout_pixels")


def tile_grid_radec(tra: float, tdec: float, tile_px: int,
                    tile_scale: float):
    """Sky coordinates (deg) of every pixel center of a ``tile_px`` ×
    ``tile_px`` gnomonic grid centered at (tra, tdec) with
    ``tile_scale`` rad/px — the INVERSE of tan_pix_np's projection.
    Shared by the coadd accumulator and the pyramid rollup (identical
    float ops, so grids agree bit-for-bit).

    atan2/asin run through scalar libm, not numpy: numpy ships its own
    SIMD arctan2/arcsin that differ from libm by 1 ulp on ~30% of
    inputs, while DuckDB == libm — so those two calls keep the whole
    mosaic/pyramid chain bit-replayable by the SQL value oracle.  The
    surrounding arithmetic (+ * / sqrt, the degrees multiply, fmod,
    clamp) is IEEE correctly-rounded and therefore bit-identical
    vectorized — numpy runs it, cutting the old all-scalar double loop
    (~20 interpreted ops/px) to two libm calls per pixel.  Grids are
    memoized per (center, size, scale): salted hot tiles rebuild the
    SAME grid once per salt group otherwise."""
    key = (float(tra), float(tdec), int(tile_px), float(tile_scale))
    hit = _TILE_GRID_CACHE.get(key)
    if hit is not None:
        return hit
    a0, d0 = math.radians(tra), math.radians(tdec)
    cx, cy, cz = (math.cos(d0) * math.cos(a0),
                  math.cos(d0) * math.sin(a0), math.sin(d0))
    ex, ey = -math.sin(a0), math.cos(a0)   # east
    nx, ny, nz = (-math.sin(d0) * math.cos(a0),
                  -math.sin(d0) * math.sin(a0), math.cos(d0))  # north
    jj = np.arange(tile_px, dtype=np.float64)
    eta = ((jj + 0.5) - tile_px / 2.0) * tile_scale          # rows
    xi = (tile_px / 2.0 - (jj + 0.5)) * tile_scale           # cols
    xi2d = np.broadcast_to(xi, (tile_px, tile_px))
    eta2d = eta[:, None]
    den = np.sqrt(1.0 + xi2d * xi2d + eta2d * eta2d)
    gx = (cx + xi2d * ex + eta2d * nx) / den
    gy = (cy + xi2d * ey + eta2d * ny) / den
    gz = np.clip((cz + eta2d * nz) / den, -1.0, 1.0)
    gra = np.empty((tile_px, tile_px), dtype=np.float64)
    gdec = np.empty((tile_px, tile_px), dtype=np.float64)
    fra, fdec = gra.ravel(), gdec.ravel()
    fx, fy, fz = gx.ravel(), gy.ravel(), gz.ravel()
    atan2, asin = math.atan2, math.asin  # libm, bit == DuckDB
    for i in range(fra.size):
        fra[i] = atan2(fy[i], fx[i])
        fdec[i] = asin(fz[i])
    np.degrees(gra, out=gra)
    np.mod(gra, 360.0, out=gra)
    np.degrees(gdec, out=gdec)
    gra.flags.writeable = False
    gdec.flags.writeable = False
    if len(_TILE_GRID_CACHE) >= 32:  # bound executor-worker memory
        _TILE_GRID_CACHE.pop(next(iter(_TILE_GRID_CACHE)))
    _TILE_GRID_CACHE[key] = (gra, gdec)
    return gra, gdec


_TILE_GRID_CACHE: dict = {}


_RING_REACH_CACHE: dict = {}


def _ring_reach_lb(lvl: int, k: int) -> float:
    """Certified lower bound (radians) on the center-to-center distance
    from any level-``lvl`` cell to any cell OUTSIDE its ring-``k`` disc.
    EXACT (chunked all-pairs dots with disc members masked) for npix <=
    50k, i.e. every level <= 6; a frontier certificate above that:

    Certificate: a cell at graph distance >= k+2 is separated from the
    center cell by the distance-(k+1) frontier — any geodesic to it
    crosses a frontier cell, whose every point lies within
    max_pix_rad(lvl) of that cell's center.  So
        min(outside-disc distance) >= min(frontier center distance)
                                      - max_pix_rad(lvl),
    and frontier cells themselves are at >= min(frontier center
    distance).  Exact set math over the sorted healpix.disc tables (the
    pixels in order, so the keyed tables below sort globally); cached
    per (lvl, k).  The frontier path's (npix x disc-width) tables reach
    GBs at level 8 by k ~ 5-6: coadd_mosaic's cheap upper bound keeps
    doomed ring counts from ever building those."""
    key = (lvl, k)
    v = _RING_REACH_CACHE.get(key)
    if v is not None:
        return v
    npix = 12 << (2 * lvl)
    pix = np.arange(npix, dtype=np.int64)
    x, y, z = pix2vec(lvl, pix)
    cen = np.stack([x, y, z], axis=1)
    d1 = disc(lvl, pix, k)
    if npix <= 50_000:
        # EXACT: chunked all-pairs center dots, disc members masked out —
        # covers every practical mosaic level (<= 6); one ring tighter
        # than the frontier bound below
        best = -2.0
        chunk = max(1, 8_000_000 // npix)
        for lo in range(0, npix, chunk):
            hi = min(npix, lo + chunk)
            dots = cen[lo:hi] @ cen.T
            dots[np.arange(hi - lo)[:, None], d1[lo:hi]] = -2.0
            best = max(best, float(dots.max()))
        v = math.pi if best <= -1.5 else math.acos(min(1.0, max(-1.0, best)))
        _RING_REACH_CACHE[key] = v
        return v
    d2 = disc(lvl, pix, k + 1)
    base = (pix * np.int64(npix))[:, None]
    keys1 = (d1 + base).ravel()          # sorted globally by construction
    keys2 = (d2 + base).ravel()
    idx = np.clip(np.searchsorted(keys1, keys2), 0, keys1.size - 1)
    is_frontier = keys1[idx] != keys2    # in disc_{k+1} but not disc_k
    if not is_frontier.any():
        _RING_REACH_CACHE[key] = math.pi
        return math.pi
    rows = np.repeat(pix, d2.shape[1])[is_frontier]
    cells = d2.ravel()[is_frontier]
    maxdot = float(np.einsum("ij,ij->i", cen[rows], cen[cells]).max())
    v = math.acos(min(1.0, max(-1.0, maxdot))) - max_pix_rad(lvl)
    _RING_REACH_CACHE[key] = v
    return v


def _tile_center_map(spark, level: int) -> DataFrame:
    """Complete (tile pix -> center ra/dec) map at ``level`` — the
    broadcast side of the mosaic's candidate pruning.  Bounded like
    crossmatch's ring map (12 * 4^level rows, level capped by caller)."""
    npix = 12 << (2 * level)
    pix = np.arange(npix, dtype=np.int64)
    x, y, z = pix2vec(level, pix)
    return spark.createDataFrame(pd.DataFrame({
        "_tile": pix,
        "_tra": np.degrees(np.arctan2(y, x)) % 360.0,
        "_tdec": np.degrees(np.arcsin(np.clip(z, -1.0, 1.0))),
    }))


def coadd_mosaic(images: DataFrame, level: int, tile_px: int,
                 scale_deg_px: float,
                 image_id: str = "image_id",
                 bytes_col: str = "bytes",
                 cell_col: str | None = None,
                 cell_level: int | None = None,
                 skew_threshold: int = 4096,
                 n_salts: int = 16,
                 with_mask: bool = False,
                 max_dim_px: int | None = None) -> DataFrame:
    """Weighted-mean coadd of every image overlapping each HEALPix
    cell at ``level`` onto that cell's common ``tile_px`` ×
    ``tile_px`` gnomonic grid.

    The tile grid is centered on the cell center with pixel scale
    ``2 * max_pix_rad(level) / tile_px`` (the grid spans the cell's
    bounding disc, so neighboring tiles overlap slightly — standard
    mosaic practice so there are no seams).  Candidate (image, tile)
    pairs are the image's own cell plus its ring-k neighbors, where k
    is the smallest ring count whose certified reach (_ring_reach_lb)
    covers the grid's sqrt(2)*tile_rad corner span plus the worst-case
    image half-diagonal (``max_dim_px``; one scalar aggregate when not
    declared) — ring-1 alone can drop a corner-touching contributor.
    Candidates are then pruned before the shuffle by the exact
    center-separation bound ``sqrt(2)*tile_rad + half_diagonal`` (the
    grid's corner span plus the image half-diagonal — NOT the tighter
    ``max_pix_rad + half_diagonal``, which drops corner-touching
    contributors) — images too far from a neighbor tile's center to
    touch its grid never shuffle there.

    ``images`` needs (image_id, bytes, w, h, fmt, ra, dec).  Per-tile
    accumulation decodes each contributing image once and
    nearest-neighbor samples it onto the grid (applyInPandas over the
    tile key — co-located, no driver state).

    Dense-sky skew (the J6 problem at the coadd layer): a tile whose
    candidate count exceeds ``skew_threshold`` is salted — its images
    split into ``n_salts`` deterministic sub-groups, each coadded to an
    integer partial (sum grid + count grid), merged per tile in a second
    tiny aggregation.  Because source pixels are uint8, the float64 sums
    are integer-exact, so the salted result is BIT-IDENTICAL to the
    unsalted one (tested).  The hot-tile list is a bounded driver
    aggregate (<= npix rows), same budget class as J6's hot-cell list.

    Output: tile (cell id), n_images, covered_px (grid pixels with at
    least one contribution), data (raw uint8 mean, zero where empty),
    checksum (sum of mean values, 1e-3-rounded).  ``with_mask=True``
    appends a ``mask`` binary column (uint8 0/1 per grid pixel) — the
    per-pixel coverage the pyramid rollup needs to distinguish true
    black from empty sky.
    """
    if level > 8:
        raise ValueError("mosaic tile level capped at 8 (ring-map and "
                         "tile-center broadcasts are complete maps)")
    spark = images.sparkSession
    tile_rad = max_pix_rad(level)
    tile_scale = 2.0 * tile_rad / tile_px          # rad / tile pixel
    tile_scale_deg = math.degrees(tile_scale)

    if cell_col is not None and cell_level is not None:
        own = hpx_cell_key(cell_col, cell_level, level)
    else:
        from ..functions.udfs import hpx_udf
        own = hpx_udf(level)("ra", "dec")

    # Candidate ring width: the grid spans the cell's BOUNDING DISC, so
    # its corners reach sqrt(2)*tile_rad past the tile center — beyond
    # what a ring-1 map guarantees (a contributing image whose own cell
    # only corner-touches the tile's neighborhood would be dropped; the
    # value oracle caught exactly this at level 2).  Pick the smallest
    # ring count whose certified reach (_ring_reach_lb) exceeds the
    # worst-case image-cell-center to tile-center separation.
    if max_dim_px is None:
        max_dim_px = images.agg(
            F.max(F.greatest(F.col("w"), F.col("h")))).first()[0]
        if max_dim_px is None:  # empty input: zero rows out, not a crash
            max_dim_px = 1
    max_half_diag = (math.hypot(max_dim_px, max_dim_px) / 2.0
                     * math.radians(scale_deg_px))
    r_cell = (math.sqrt(2.0) * tile_rad + max_half_diag
              + max_pix_rad(level))
    n_rings = 1
    npix_lvl = 12 << (2 * level)
    while True:
        # cheap certified UPPER bound first: the nearest outside-disc
        # cell sits at graph distance k+1 and each center-to-center
        # step is <= 2*max_pix_rad, so reach(k) <= 2*(k+1)*max_pix_rad.
        # When even that cannot exceed r_cell, skip _ring_reach_lb —
        # its frontier path builds (npix x disc-width) tables that run
        # to GBs at level 8, and a doomed-ring loop used to build SIX
        # of them just to reach the raise below. Only for the big-npix
        # regime: tiny levels can exhaust the sphere (reach = pi),
        # which the upper bound does not see.
        ub_reach = 2.0 * (n_rings + 1) * max_pix_rad(level)
        if not (npix_lvl > 50_000 and ub_reach <= r_cell):
            if _ring_reach_lb(level, n_rings) > r_cell:
                break
        n_rings += 1
        if n_rings > 6:
            raise ValueError(
                "mosaic candidate ring would exceed 6 rings (images are "
                "huge relative to the tile cells) — coarsen the tile "
                "level or split the images")

    # in-plan guard (hpx_cell_key's idiom): a declared max_dim_px that
    # an actual image exceeds would silently truncate its candidate
    # ring — raise on every violating row instead, at codegen cost zero
    dim_ok = ((F.col("w") <= F.lit(int(max_dim_px)))
              & (F.col("h") <= F.lit(int(max_dim_px))))
    dguard = F.assert_true(
        dim_ok, f"image exceeds declared max_dim_px={int(max_dim_px)} — "
                "the mosaic candidate ring was sized for smaller images")
    own = F.when(dguard.isNull(), own)

    centers = _tile_center_map(spark, level)
    cand = (ring_explode(images, own, level, n_rings)
            .withColumnRenamed("_mc", "_tile")
            .join(F.broadcast(centers), "_tile"))

    # prune 1 (disc): keep (image, tile) only if the image's
    # half-diagonal disc can reach the tile grid's bounding disc
    half_diag = (F.sqrt(F.col("w") * F.col("w") + F.col("h") * F.col("h"))
                 * F.lit(math.radians(scale_deg_px) / 2.0))
    dot = F.expr(_dot_sql("ra", "dec", "_tra", "_tdec"))
    bound = F.cos(F.least(F.lit(math.pi),
                          half_diag + F.lit(tile_rad * math.sqrt(2.0))))
    cand = cand.filter(dot >= bound)

    # prune 2 (grid box): the grid spans exactly |xi|,|eta| <= tile_rad
    # in the tile's tangent plane, so an image can only contribute if
    # its center projects within half_diag (gnomonic-stretched) of that
    # square — ~2x tighter than the disc on uniform sky (the disc
    # circumscribes the square's corners).  The stretch factor 2.0
    # over-covers sec^2 of the worst field angle for level >= 1
    # (sqrt(2)*tile_rad + half_diag < 45 deg), keeping the box sound;
    # at level 0 the angle can exceed 45 deg, so only the disc applies.
    if level >= 1:
        cpx, cpy, cden = map(F.expr, _tan_px_sql(
            "ra", "dec", "_tra", "_tdec", tile_px, tile_px,
            math.degrees(tile_scale)))
        margin = half_diag * F.lit(2.0) / F.lit(tile_scale)
        cand = cand.filter(
            (cden > 0)
            & (cpx >= -margin) & (cpx <= F.lit(float(tile_px)) + margin)
            & (cpy >= -margin) & (cpy <= F.lit(float(tile_px)) + margin))

    from ..sources import imaging

    schema = ("tile long, n_images int, covered_px int, data binary, "
              "checksum double"
              + (", mask binary" if with_mask else ""))

    def _accum(pdf: pd.DataFrame):
        """Integer-exact (sum, count, used) accumulation of one group
        onto its tile's grid.  acc holds sums of uint8 pixels in
        float64 — exact integers, so accumulation order is
        irrelevant (the salted path relies on this)."""
        tra = float(pdf["_tra"].iloc[0])
        tdec = float(pdf["_tdec"].iloc[0])
        # tile pixel-center sky grid via INVERSE gnomonic at tile center
        gra, gdec = tile_grid_radec(tra, tdec, tile_px, tile_scale)

        acc = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
        cnt = np.zeros((tile_px, tile_px), dtype=np.int64)
        used = 0
        for r in pdf.itertuples(index=False):
            d = r._asdict()
            w, h = int(d["w"]), int(d["h"])
            px, py, ok = tan_pix_np(gra, gdec, float(d["ra"]),
                                    float(d["dec"]), w, h, scale_deg_px)
            ix = np.floor(px).astype(np.int64)
            iy = np.floor(py).astype(np.int64)
            m = ok & (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
            if not m.any():
                continue
            img = imaging.decode(d[bytes_col], w, h, str(d["fmt"]))
            acc[m] += img[iy[m], ix[m]]
            cnt[m] += 1
            used += 1
        return acc, cnt, used

    def _finalize(tile, acc, cnt, used) -> pd.DataFrame:
        mean = np.where((cnt > 0)[:, :, None],
                        acc / np.maximum(cnt, 1)[:, :, None], 0.0)
        row = {
            "tile": [np.int64(tile)],
            "n_images": [np.int32(used)],
            "covered_px": [np.int32((cnt > 0).sum())],
            "data": [np.rint(mean).astype(np.uint8).tobytes()],
            "checksum": [round(float(mean.sum()), 3)],
        }
        if with_mask:
            row["mask"] = [(cnt > 0).astype(np.uint8).tobytes()]
        return pd.DataFrame(row)

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (tile,) = key
        return _finalize(tile, *_accum(pdf))

    # dense-sky skew: tiles whose candidate count exceeds the threshold
    # get a salted two-stage coadd (integer partials, exact merge).
    # The hot list is a bounded driver aggregate over tile counts.
    hot = [int(r[0]) for r in
           cand.groupBy("_tile").count()
           .filter(F.col("count") > skew_threshold).collect()]
    if not hot:
        return (cand.groupBy("_tile").applyInPandas(per_tile, schema)
                .filter(F.col("n_images") > 0))

    partial_schema = "tile long, used int, acc binary, cnt binary"

    def per_partial(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(key[0])
        acc, cnt, used = _accum(pdf)
        return pd.DataFrame({
            "tile": [np.int64(tile)], "used": [np.int32(used)],
            "acc": [acc.astype(np.int64).tobytes()],
            "cnt": [cnt.tobytes()]})

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (tile,) = key
        acc = np.zeros((tile_px, tile_px, 3), dtype=np.int64)
        cnt = np.zeros((tile_px, tile_px), dtype=np.int64)
        used = 0
        for r in pdf.itertuples(index=False):
            acc += np.frombuffer(r.acc, dtype=np.int64).reshape(acc.shape)
            cnt += np.frombuffer(r.cnt, dtype=np.int64).reshape(cnt.shape)
            used += int(r.used)
        return _finalize(tile, acc.astype(np.float64), cnt, used)

    cold = (cand.filter(~F.col("_tile").isin(hot))
            .groupBy("_tile").applyInPandas(per_tile, schema))
    hot_out = (cand.filter(F.col("_tile").isin(hot))
               .withColumn("_salt",
                           F.pmod(F.xxhash64(image_id), F.lit(n_salts)))
               .groupBy("_tile", "_salt")
               .applyInPandas(per_partial, partial_schema)
               .groupBy("tile").applyInPandas(merge, schema))
    return cold.unionByName(hot_out).filter(F.col("n_images") > 0)


def mosaic_pyramid(tiles: DataFrame, level: int, tile_px: int,
                   min_level: int = 0) -> DataFrame:
    """HiPS-style progressive tile pyramid: roll coadded tiles at
    ``level`` up through ``min_level``, four children per parent (the
    image-axis analogue of the reference's count-tree rollup, SURVEY
    A5 / tree_gen.c — a parent aggregates exactly its nested-id
    children ``tile >> 2``).

    Each parent tile keeps the coadd's grid model — a ``tile_px`` x
    ``tile_px`` gnomonic grid about the parent cell center with pixel
    scale ``2 * max_pix_rad(parent_level) / tile_px`` (2x coarser per
    level, constant bytes per tile, exactly a progressive-survey
    pyramid).  Parent pixels are the MEAN of every child tile's
    nearest-neighbor sample at that sky position whose coverage mask is
    set — deterministic and order-independent (child pixels are uint8,
    so the float64 sums are integer-exact).  Children grids overlap at
    cell borders (each spans its cell's bounding disc), which is what
    makes the seam-free mean well-defined.

    ``tiles`` must be ``coadd_mosaic(..., with_mask=True)`` output at
    ``level`` (columns tile, n_images, covered_px, data, checksum,
    mask).  Output: one row per (level, tile) for every level in
    [min_level, level] — the input level is passed through — with
    ``n_images`` the summed provenance count of contributing children.

    Scale shape: one shuffle per pyramid step keyed by the parent cell
    (<= 4 rows per group, tile-sized payloads), with the level-P frame
    bounded by 12*4^P rows whatever the survey size; the two center
    maps ride the same bounded broadcasts as the coadd itself.
    """
    if not 0 <= min_level <= level:
        raise ValueError("need 0 <= min_level <= level")
    if level > 8:
        raise ValueError("pyramid base level capped at 8 (tile-center "
                         "broadcasts are complete maps)")
    if "mask" not in tiles.columns:
        raise ValueError("tiles must carry a per-pixel coverage mask — "
                         "build them with coadd_mosaic(with_mask=True)")
    spark = tiles.sparkSession
    out_cols = ["level", "tile", "n_images", "covered_px", "data",
                "mask", "checksum"]
    frames = [tiles.withColumn("level", F.lit(level)).select(out_cols)]
    schema = ("tile long, n_images int, covered_px int, data binary, "
              "checksum double, mask binary")

    cur = tiles
    for pl in range(level - 1, min_level - 1, -1):
        cl = pl + 1
        c_scale_deg = math.degrees(2.0 * max_pix_rad(cl) / tile_px)
        p_scale = 2.0 * max_pix_rad(pl) / tile_px
        ccent = _tile_center_map(spark, cl)
        pcent = (_tile_center_map(spark, pl)
                 .select(F.col("_tile").alias("_ptile"),
                         F.col("_tra").alias("_pra"),
                         F.col("_tdec").alias("_pdec")))
        cand = (cur.join(F.broadcast(ccent),
                         cur["tile"] == ccent["_tile"]).drop("_tile")
                .withColumn("_ptile", F.shiftright("tile", 2))
                .join(F.broadcast(pcent), "_ptile"))

        def make_per_parent(c_scale_deg, p_scale):
            def per_parent(key, pdf: pd.DataFrame) -> pd.DataFrame:
                (ptile,) = key
                pra = float(pdf["_pra"].iloc[0])
                pdec = float(pdf["_pdec"].iloc[0])
                gra, gdec = tile_grid_radec(pra, pdec, tile_px, p_scale)
                ssum = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
                cnt = np.zeros((tile_px, tile_px), dtype=np.int64)
                used = 0
                # <= 4 children per parent: iterrows is fine (and avoids
                # itertuples' renaming of _-prefixed columns)
                for _, r in pdf.iterrows():
                    img = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                        tile_px, tile_px, 3)
                    msk = np.frombuffer(r["mask"], dtype=np.uint8).reshape(
                        tile_px, tile_px).astype(bool)
                    px, py, ok = tan_pix_np(gra, gdec, float(r["_tra"]),
                                            float(r["_tdec"]), tile_px,
                                            tile_px, c_scale_deg)
                    ix = np.floor(px).astype(np.int64)
                    iy = np.floor(py).astype(np.int64)
                    m = (ok & (ix >= 0) & (ix < tile_px)
                         & (iy >= 0) & (iy < tile_px))
                    mm = np.zeros_like(m)
                    mm[m] = msk[iy[m], ix[m]]
                    if not mm.any():
                        continue
                    ssum[mm] += img[iy[mm], ix[mm]]
                    cnt[mm] += 1
                    used += int(r["n_images"])
                mean = np.where((cnt > 0)[:, :, None],
                                ssum / np.maximum(cnt, 1)[:, :, None], 0.0)
                return pd.DataFrame({
                    "tile": [np.int64(ptile)],
                    "n_images": [np.int32(used)],
                    "covered_px": [np.int32((cnt > 0).sum())],
                    "data": [np.rint(mean).astype(np.uint8).tobytes()],
                    "checksum": [round(float(mean.sum()), 3)],
                    "mask": [(cnt > 0).astype(np.uint8).tobytes()],
                })
            return per_parent

        per_parent = make_per_parent(c_scale_deg, p_scale)

        cur = (cand.groupBy("_ptile").applyInPandas(per_parent, schema)
               .filter(F.col("n_images") > 0)
               .localCheckpoint(eager=True))
        frames.append(cur.withColumn("level", F.lit(pl)).select(out_cols))

    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out
