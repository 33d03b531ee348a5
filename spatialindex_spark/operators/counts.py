"""Cell-aggregate counting — the distributed analogue of the reference's
mmap'ed count tree (SURVEY.md A1/A4/A5).

The reference builds an out-of-core tree whose nodes carry point counts so
region counts can be answered without touching points (tree_gen.c:80-94,
htm.c:1943-2292). Here the "tree" is a per-cell counts DataFrame plus
parent rollups (shiftright by 2 bits per level); persisted alongside the
table it summarizes, it answers:

- ``region_count_exact``: indexed filter + exact geometry (A1).
- ``region_count_bounds``: [lower, upper] from counts alone, zero point
  reads (A4): lower = cells fully inside the region's *uncompressed*
  covering interior; upper = + boundary cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.constraints import SpatialIndex


def cell_count_tree(df: DataFrame, cell_col: str = "spt_ind",
                    level: int = 7, min_level: int = 0) -> DataFrame:
    """Counts at every level from ``level`` up to ``min_level``:
    (level, cell, cnt). One shuffle for the leaf level; rollups reuse it."""
    leaf = (df.groupBy(F.col(cell_col).alias("cell"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .withColumn("level", F.lit(level)))
    out = leaf
    cur = leaf
    for lv in range(level - 1, min_level - 1, -1):
        cur = (cur.groupBy(F.shiftright("cell", 2).alias("cell"))
                  .agg(F.sum("cnt").alias("cnt"))
                  .withColumn("level", F.lit(lv)))
        out = out.unionByName(cur)
    return out.select("level", "cell", "cnt")


def _region_geom(region: dict):
    """Normalized geometry objects for a region spec
    ({'kind': 'cone'|'poly'|'ellipse', ...} — same shape as region_join)."""
    import math

    from ..functions.geometry import RAD_PER_DEG, sc_to_v3

    kind = region["kind"]
    if kind == "cone":
        c = sc_to_v3(region["ra"], region["dec"])
        return ("cone", c, math.cos(region["radius"] * RAD_PER_DEG))
    if kind == "poly":
        from ..functions.cover import polygon_normals
        from ..functions.regions import SphericalPolygon

        verts = [sc_to_v3(r, d) for r, d in zip(region["ra"], region["dec"])]
        return ("poly", SphericalPolygon(verts),
                polygon_normals(region["ra"], region["dec"]))
    if kind == "ellipse":
        from ..functions.regions import SphericalEllipse

        e = SphericalEllipse.from_center(
            sc_to_v3(region["ra"], region["dec"]), region["a"], region["b"],
            region.get("angle", 0.0))
        return ("ellipse", e, None)
    raise ValueError(f"unknown region kind {kind!r}")


def region_geom_pred(region: dict, xcol: str = "x", ycol: str = "y",
                     zcol: str = "z"):
    """Exact JVM Column membership predicate for a region spec (same
    half-space / quadratic forms as region_join's broadcast geometry)."""
    kind, g, extra = _region_geom(region)
    x, y, z = F.col(xcol), F.col(ycol), F.col(zcol)
    if kind == "cone":
        return x * g.x + y * g.y + z * g.z >= F.lit(extra)
    if kind == "poly":
        pred = F.lit(True)
        for n in extra:
            pred = pred & (x * n.x + y * n.y + z * n.z >= 0)
        return pred
    e = g
    return ((x * e.cen.x + y * e.cen.y + z * e.cen.z >= 0)
            & (e.xx * x * x + e.yy * y * y + e.zz * z * z
               + 2 * e.xy * x * y + 2 * e.xz * x * z + 2 * e.yz * y * z <= 0))


def region_split_ranges(region: dict, level: int,
                        mode: int = SpatialIndex.HTM):
    """(inside_ranges, boundary_ranges) at ``level`` for a region spec.

    HTM: the covering DFS's own full/partial classification — the exact
    distributed analogue of the reference count-tree walks
    (htm_tree_s2circle_range / s2cpoly_range / s2ellipse_range,
    htm.c:1943-2292), for all three region kinds.

    HPX (cone/poly): enumerate the (superset) covering's cells and classify
    each by its center: every point of a cell lies within max_pix_rad of
    the center (hpxMaxPixRad is the global circumradius bound), so a center
    further than max_pix_rad inside every bounding surface makes the cell
    certainly interior. Sound, never claims a partial cell as full."""
    import math

    import numpy as np

    kind, g, extra = _region_geom(region)
    if mode == SpatialIndex.HTM:
        from ..functions.cover import (htm_circle_ranges_split,
                                       htm_polygon_ranges_split)

        if kind == "cone":
            return htm_circle_ranges_split(
                region["ra"], region["dec"], region["radius"], level)
        if kind == "poly":
            return htm_polygon_ranges_split(g, level)
        from ..functions.regions import htm_ellipse_ranges_split

        return htm_ellipse_ranges_split(g, level)

    if mode == SpatialIndex.S2:
        # split coverings straight from the Hilbert-quadtree BFS (cap /
        # polygon zone tests; ellipse = the true quadratic classifier).
        # Ranges are returned SIGN-BIT-BIASED (id ^ (1<<63)) so signed
        # BETWEEN respects uint64 id order — build the counts table over
        # the equally-biased cell column.
        from ..functions.h3s2 import (s2_cap_ranges, s2_ellipse_ranges,
                                      s2_polygon_ranges)

        if kind == "cone":
            ins, bnd = s2_cap_ranges(region["ra"], region["dec"],
                                     region["radius"], level, split=True)
        elif kind == "poly":
            ins, bnd = s2_polygon_ranges(region["ra"], region["dec"],
                                         level, split=True)
        else:
            ins, bnd = s2_ellipse_ranges(
                region["ra"], region["dec"], region["a"], region["b"],
                region.get("angle", 0.0), level, split=True)
        B = -1 << 63
        return ([[lo ^ B, hi ^ B] for lo, hi in ins],
                [[lo ^ B, hi ^ B] for lo, hi in bnd])

    if mode == SpatialIndex.H3:
        # hex cells: split cell lists as singleton ranges (no subtree
        # nesting — see h3s2 covering docs). Ellipse = bounding-cone
        # covering (radius a) with the inscribed-circle interior test:
        # cell center within (b - rmax) of the ellipse center => the cell
        # sits inside cone(center, b) ⊆ ellipse (sound under-claim, same
        # shape as the HPX path).
        from ..functions.h3s2 import (_h3_cell_rmax, h3_cone_cells,
                                      h3_hex_center, h3_polygon_cells)

        if kind == "cone":
            ins, bnd = h3_cone_cells(region["ra"], region["dec"],
                                     region["radius"], level, split=True)
        elif kind == "poly":
            ins, bnd = h3_polygon_cells(region["ra"], region["dec"],
                                        level, split=True)
        else:
            cells = h3_cone_cells(region["ra"], region["dec"],
                                  region["a"], level)
            cra, cdec = h3_hex_center(cells)
            d = np.radians(cdec)
            r = np.radians(cra)
            dot = (np.cos(r) * np.cos(d) * g.cen.x
                   + np.sin(r) * np.cos(d) * g.cen.y + np.sin(d) * g.cen.z)
            b_rad = region["b"] * math.pi / 180.0
            rmax = _h3_cell_rmax(level)
            full = (dot >= math.cos(max(b_rad - rmax, 0.0))) \
                if b_rad > rmax else np.zeros(len(cells), dtype=bool)
            ins, bnd = cells[full], cells[~full]
        return ([[int(c), int(c)] for c in ins],
                [[int(c), int(c)] for c in bnd])

    if mode != SpatialIndex.HPX:
        raise ValueError(f"unknown mode {mode}")
    from ..functions.cover import _ranges_add, hpx_cone_ranges, \
        hpx_polygon_ranges
    from ..functions.healpix import max_pix_rad, pix2vec

    if kind == "cone":
        loose = hpx_cone_ranges(level, region["ra"], region["dec"],
                                region["radius"], exact_ends=True)
    elif kind == "ellipse":
        # superset: the ellipse's bounding cone (radius = semi-major a)
        loose = hpx_cone_ranges(level, region["ra"], region["dec"],
                                region["a"], exact_ends=True)
    else:
        loose = hpx_polygon_ranges(level, region["ra"], region["dec"],
                                   exact_circle=True)
    if not loose:
        return [], []
    pix = np.concatenate([np.arange(lo, hi + 1, dtype=np.int64)
                          for lo, hi in loose])
    cx, cy, cz = pix2vec(level, pix)
    mpr = max_pix_rad(level)
    if kind == "cone":
        # center within (radius - mpr) of the cone axis => whole cell inside
        dot = cx * g.x + cy * g.y + cz * g.z
        rad = math.acos(max(-1.0, min(1.0, extra)))  # radius in radians
        full = dot >= math.cos(max(rad - mpr, 0.0)) if rad > mpr \
            else np.zeros(len(pix), dtype=bool)
    elif kind == "ellipse":
        # sound under-claim: cell ⊆ cone(center, b) ⊆ ellipse when the
        # cell center is within (b - mpr) of the ellipse center; elongated
        # ellipses keep major-axis cells as boundary (bracket stays valid)
        dot = cx * g.cen.x + cy * g.cen.y + cz * g.cen.z
        b_rad = region["b"] * math.pi / 180.0
        full = dot >= math.cos(max(b_rad - mpr, 0.0)) if b_rad > mpr \
            else np.zeros(len(pix), dtype=bool)
    else:
        # center at angular distance >= mpr inside EVERY edge plane
        smpr = math.sin(mpr)
        full = np.ones(len(pix), dtype=bool)
        for n in extra:
            full &= (cx * n.x + cy * n.y + cz * n.z) >= smpr
    inside: list[list[int]] = []
    boundary: list[list[int]] = []
    for p, f in zip(pix.tolist(), full.tolist()):
        _ranges_add(inside if f else boundary, p, p)
    return inside, boundary


def region_count_bounds_frame(counts: DataFrame, region: dict,
                              level: int = 7,
                              mode: int = SpatialIndex.HTM) -> DataFrame:
    """[lower, upper] region-count bounds from the counts table alone, zero
    point reads (A4), for cone / convex-polygon / ellipse regions: lower =
    counts over certainly-interior cells, upper = + boundary cells."""
    inside, boundary = region_split_ranges(region, level, mode)
    from ..functions.cover import ranges_predicate

    lvl_counts = counts.filter(F.col("level") == level)
    lower = lvl_counts.filter(ranges_predicate("cell", inside)).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("lower"))
    upper = (lvl_counts
             .filter(ranges_predicate("cell", inside)
                     | ranges_predicate("cell", boundary))
             .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("upper")))
    return lower.crossJoin(upper)


def region_count_bounds(counts: DataFrame, ra: float, dec: float,
                        radius: float, level: int = 7,
                        mode: int = SpatialIndex.HTM) -> DataFrame:
    """Cone convenience wrapper over region_count_bounds_frame (A4).
    Mirrors htm_tree_s2circle_range semantics (htm.c:1943-2057) at cell
    granularity."""
    return region_count_bounds_frame(
        counts, {"kind": "cone", "ra": ra, "dec": dec, "radius": radius},
        level, mode)


def region_count_fast_region(df: DataFrame, counts: DataFrame, region: dict,
                             level: int = 7, cell_col: str = "spt_ind",
                             mode: int = SpatialIndex.HTM) -> DataFrame:
    """Exact region count with the reference's INSIDE fast path
    (htm.c:1666-1669), as ONE lazy single-row DataFrame (column ``n``):
    cells wholly inside the region are summed from the per-cell counts
    table with ZERO row reads; only boundary cells run the exact geometric
    predicate. Supports cone / convex-polygon / ellipse regions and both
    HTM and HPX cell columns (ellipse is HTM-only). At 100 TB this turns a
    count over a 10-degree region from a scan of every covered row into a
    metadata lookup plus a thin shell scan."""
    from ..functions.cover import ranges_predicate

    inside, boundary = region_split_ranges(region, level, mode)
    interior = (counts.filter(F.col("level") == level)
                .filter(ranges_predicate("cell", inside))
                .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("_interior")))
    shell = (df.filter(ranges_predicate(cell_col, boundary))
             .filter(region_geom_pred(region))
             .agg(F.count(F.lit(1)).alias("_shell")))
    return interior.crossJoin(shell).select(
        (F.col("_interior") + F.col("_shell")).alias("n"))


def region_count_fast_frame(df: DataFrame, counts: DataFrame, ra: float,
                            dec: float, radius: float, level: int = 7,
                            cell_col: str = "spt_ind") -> DataFrame:
    """Cone/HTM convenience wrapper over region_count_fast_region."""
    return region_count_fast_region(
        df, counts, {"kind": "cone", "ra": ra, "dec": dec, "radius": radius},
        level, cell_col)


def region_count_fast(df: DataFrame, counts: DataFrame, ra: float, dec: float,
                      radius: float, level: int = 7,
                      cell_col: str = "spt_ind") -> int:
    """Eager convenience wrapper over region_count_fast_frame."""
    return int(region_count_fast_frame(df, counts, ra, dec, radius, level,
                                       cell_col).collect()[0]["n"])


def map_smooth(map_df: DataFrame, level: int, pix_col: str = "pix",
               val_col: str = "n", quant: int = 1) -> DataFrame:
    """Ring-1 disc (boxcar) smoothing of a HEALPix map: for every pixel
    PRESENT in the map, the mean of the values over its ring-1 disc
    cells that are also present (sparse-map semantics — absent neighbors
    don't dilute; callers wanting dense semantics densify first). The
    standard first smoothing pass over depth/density/exposure maps.

    Scale shape: the complete (center -> disc cells) map at ``level`` is
    the SAME cached broadcast ring map that joins.ring_explode joins
    (joins._ring1_map_df, level <= JVM_RING_MAX_LEVEL per its budget);
    the map table joins it JVM-side on the neighbor key and ONE groupBy
    on the center key aggregates — the map never shuffles by more than
    its own (bounded at npix(level)) size.

    Determinism contract: values are quantized to ``quant`` units before
    summing (int64-exact, aggregation-order-independent); the emitted
    mean is a fixed IEEE tree over (sum, count). Note for the oracle:
    the disc topology itself is NOT SQL-derivable — the DuckDB oracle
    takes the (center, neighbor) pairs as a literal VALUES table built
    from the same golden-tested neighbor kernel (functions bit-exact vs
    the reference fixtures), so the oracle gates the distributed
    join+aggregation, the fixtures gate the topology.

    Returns (pix, n_disc, smooth) with n_disc the present-cell count.
    """
    from .joins import _ring1_map_df

    spark = map_df.sparkSession
    ring = _ring1_map_df(spark, level)          # (_pix, _ring array)
    pairs = ring.select(F.col("_pix").alias("_center"),
                        F.explode("_ring").alias("_nbr"))
    vq = F.round(F.col(val_col) * quant).cast("long")
    vals = map_df.select(F.col(pix_col).cast("long").alias("_mp"),
                         vq.alias("_vq"))
    centers = vals.select(F.col("_mp").alias("_c")).distinct()
    gathered = (vals.join(F.broadcast(pairs), vals["_mp"] == pairs["_nbr"])
                .groupBy(F.col("_center"))
                .agg(F.sum("_vq").alias("_s"),
                     F.count(F.lit(1)).alias("n_disc")))
    out = gathered.join(centers, gathered["_center"] == centers["_c"],
                        "left_semi")
    smooth = F.round((F.col("_s") / F.col("n_disc")) / F.lit(float(quant)),
                     9)
    return out.select(F.col("_center").alias(pix_col), "n_disc",
                      smooth.alias("smooth"))


def ud_grade(map_df: DataFrame, level_in: int, level_out: int,
             pix_col: str = "pix", val_col: str = "n",
             mode: str = "sum") -> DataFrame:
    """Change a NESTED HEALPix map's resolution (healpy ``ud_grade``
    analogue; nesting math per the reference's bit layout, sptHPX.c
    nested-scheme shifts).

    Degrade (``level_out < level_in``): parent = ``pix >> 2*dk``; one
    groupBy sums PRESENT children (sparse-map semantics — healpy's
    dense-average variant is ``mode='mean'``, the exact-integer mean over
    present children, count emitted so callers can re-densify).

    Upgrade (``level_out > level_in``): each pixel explodes into its
    ``4**dk`` nested children JVM-side (``explode(sequence(...))``, no
    Python). ``mode='sum'`` conserves total mass exactly with integer
    long-division — child j gets ``v DIV m + (j < v MOD m)`` — the
    deterministic, aggregation-order-independent analogue of healpy's
    ``power=-2``; ``mode='copy'`` replicates the value (healpy default).

    Values must be integral (counts/quantized); quantize first if not.
    Output: (pix, n[, n_child for degrade-mean]). Both directions are one
    narrow shuffle (degrade) or a pure map-side explode (upgrade) — the
    map never carries more than npix(level) rows, so this holds at any
    catalog scale (the map, not the catalog, is the operand).
    """
    if mode not in ("sum", "mean", "copy"):
        raise ValueError(f"ud_grade mode {mode!r}")
    dk = level_out - level_in
    v = F.col(val_col).cast("long")
    if dk == 0:
        return map_df.select(F.col(pix_col).cast("long").alias(pix_col),
                             v.alias(val_col))
    if dk < 0:
        if mode == "copy":
            raise ValueError("mode='copy' is upgrade-only")
        g = (map_df.select(
                F.shiftright(F.col(pix_col).cast("long"), -2 * dk)
                .alias(pix_col), v.alias("_v"))
             .groupBy(pix_col)
             .agg(F.sum("_v").alias("_s"),
                  F.count(F.lit(1)).alias("n_child")))
        if mode == "sum":
            return g.select(pix_col, F.col("_s").alias(val_col))
        return g.select(pix_col, F.round(F.col("_s") / F.col("n_child"), 9)
                        .alias(val_col), "n_child")
    m = 4 ** dk
    if mode == "mean":
        raise ValueError("mode='mean' is degrade-only")
    if mode == "sum":
        # the long-division split is defined for counts; a negative value
        # would silently violate conservation — fail loudly in-plan (the
        # operand is npix-bounded, the assert costs nothing)
        v = F.when(F.assert_true(v >= 0, F.lit(
            "ud_grade mode='sum' upgrade requires non-negative values"))
            .isNull(), v)
    j = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_j")
    base = map_df.select(
        F.shiftleft(F.col(pix_col).cast("long"), 2 * dk).alias("_p"),
        v.alias("_v"), j)
    child = (F.col("_p") + F.col("_j")).alias(pix_col)
    if mode == "copy":
        return base.select(child, F.col("_v").alias(val_col))
    share = (F.col("_v") - (F.col("_v") % m)) / m \
        + (F.col("_j") < F.col("_v") % m).cast("long")
    return base.select(child, share.cast("long").alias(val_col))
