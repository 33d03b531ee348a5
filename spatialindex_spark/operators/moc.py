"""Multi-order coverage maps (MOC): sky-coverage algebra over the engine's
nested-HEALPix pixelization — the IVOA-standard companion every HEALPix
catalog service ships next to its cell index.

The reference's covering machinery (sptQueryLib.c:1311-1630 cone zones,
cover.py / regions.py here) already produces *per-region* cell-range sets;
what it leaves to its DBMS host is the COVERAGE layer a survey needs:

- set algebra over coverages (union / intersect / difference) so "the sky
  observed by survey A but not survey B" is a first-class object;
- a normal form (complete 4-sibling groups merged to their parent, i.e.
  multi-order cells) so a near-full-sky coverage is 12 rows, not 2^2k;
- a DISTRIBUTED builder: the coverage of 10^12 observed rows, which no
  driver-side covering walk can produce.

Representations
---------------
flat form   : sorted disjoint INCLUSIVE [lo, hi] pixel ranges at a fixed
              order (exactly what the covering walks emit; feeds
              ``ranges_predicate`` unchanged).
uniq form   : (order, pix) pairs, normalized — no 4 complete siblings
              survive unmerged. DataFrame-friendly storage/interchange.

Scale shape
-----------
``moc_from_pixels`` pays ONE distinct-aggregate shuffle bounded by
npix(order) output cells (not input rows — partial aggregation collapses
each map partition to its occupied-cell set first); the per-order merge
loop then runs on that ≤ npix(order) frame, shrinking every step. At
order 10 the whole loop state is ≤ 12.6M longs — executor-trivial even
when the input is 10^12 rows.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ranges_union", "ranges_intersect", "ranges_difference",
    "moc_area_sr", "moc_area_deg2", "flat_to_uniq", "uniq_to_flat",
    "moc_from_pixels", "moc_from_points", "moc_filter",
]


# ---------------------------------------------------------------------------
# flat-form range algebra (driver-side: region MOCs are small by design)
# ---------------------------------------------------------------------------

def _normalize(ranges) -> list[list[int]]:
    """Sort + coalesce overlapping/adjacent inclusive ranges."""
    rs = sorted([int(lo), int(hi)] for lo, hi in ranges if int(lo) <= int(hi))
    out: list[list[int]] = []
    for lo, hi in rs:
        if out and lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def ranges_union(a, b) -> list[list[int]]:
    """A ∪ B over inclusive [lo, hi] range lists."""
    return _normalize(list(a) + list(b))


def ranges_intersect(a, b) -> list[list[int]]:
    """A ∩ B — two-pointer sweep over the normalized inputs."""
    a, b = _normalize(a), _normalize(b)
    out: list[list[int]] = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo <= hi:
            out.append([lo, hi])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def ranges_difference(a, b) -> list[list[int]]:
    """A \\ B — subtract every B interval from the A sweep."""
    a, b = _normalize(a), _normalize(b)
    out: list[list[int]] = []
    j = 0
    for lo, hi in a:
        cur = lo
        while j < len(b) and b[j][1] < cur:
            j += 1
        k = j
        while k < len(b) and b[k][0] <= hi:
            if b[k][0] > cur:
                out.append([cur, b[k][0] - 1])
            cur = max(cur, b[k][1] + 1)
            if cur > hi:
                break
            k += 1
        if cur <= hi:
            out.append([cur, hi])
    return out


def moc_area_sr(ranges, order: int) -> float:
    """Solid angle (steradians) of a flat-form MOC at ``order``:
    cells × 4π/npix (every nested HEALPix cell is equal-area)."""
    npix = 12 << (2 * order)
    ncells = sum(int(hi) - int(lo) + 1 for lo, hi in _normalize(ranges))
    return 4.0 * math.pi * ncells / npix


def moc_area_deg2(ranges, order: int) -> float:
    return moc_area_sr(ranges, order) * (180.0 / math.pi) ** 2


# ---------------------------------------------------------------------------
# flat <-> uniq (multi-order normal form)
# ---------------------------------------------------------------------------

def flat_to_uniq(ranges, order: int) -> list[tuple[int, int]]:
    """Flat ranges at ``order`` -> normalized (order, pix) cells.

    Greedy aligned-block peel: at each position take the largest 4^s block
    that starts 4^s-aligned and fits in the remaining range — the unique
    minimal multi-order decomposition (no 4 siblings can survive: they
    would have formed the parent block).
    """
    out: list[tuple[int, int]] = []
    for lo, hi in _normalize(ranges):
        cur = int(lo)
        end = int(hi) + 1  # half-open internally
        while cur < end:
            s = 0
            while s < order:
                step = 1 << (2 * (s + 1))
                if cur % step != 0 or cur + step > end:
                    break
                s += 1
            out.append((order - s, cur >> (2 * s)))
            cur += 1 << (2 * s)
    out.sort()
    return out


def uniq_to_flat(cells, order: int) -> list[list[int]]:
    """(o, pix) cells -> flat inclusive ranges at ``order`` (o <= order)."""
    rs = []
    for o, pix in cells:
        if o > order:
            raise ValueError(f"cell order {o} exceeds flat order {order}")
        sh = 2 * (order - o)
        rs.append([int(pix) << sh, ((int(pix) + 1) << sh) - 1])
    return _normalize(rs)


def moc_to_ascii(ranges, order: int) -> str:
    """Serialize a flat-form MOC to the IVOA MOC 1.1 ASCII form:
    ``"o1/p p-p o2/p ..."`` — cells grouped by ascending order, runs of
    consecutive pixels collapsed to ``lo-hi``, and a trailing bare
    ``order/`` token when no cell sits at the MOC order (MOCORD must
    always be declared). Round-trips bit-exactly via :func:`moc_from_ascii`.
    """
    cells = flat_to_uniq(ranges, order)
    by_order: dict[int, list[int]] = {}
    for o, pix in cells:
        by_order.setdefault(o, []).append(pix)
    parts = []
    for o in sorted(by_order):
        toks = []
        pixes = by_order[o]
        i = 0
        while i < len(pixes):
            j = i
            while j + 1 < len(pixes) and pixes[j + 1] == pixes[j] + 1:
                j += 1
            toks.append(str(pixes[i]) if i == j
                        else f"{pixes[i]}-{pixes[j]}")
            i = j + 1
        parts.append(f"{o}/" + " ".join(toks))
    if order not in by_order:
        parts.append(f"{order}/")
    return " ".join(parts)


def moc_from_ascii(text: str) -> tuple[list[list[int]], int]:
    """Parse an IVOA MOC 1.1 ASCII string -> (flat ranges, order). The
    MOC order is the highest order token present (bare ``N/`` included)."""
    cells: list[tuple[int, int]] = []
    order = -1
    cur_order: int | None = None
    for tok in text.split():
        if "/" in tok:
            o_s, rest = tok.split("/", 1)
            cur_order = int(o_s)
            if cur_order < 0:
                raise ValueError(f"negative order in {tok!r}")
            order = max(order, cur_order)
            tok = rest
            if not tok:
                continue
        if cur_order is None:
            raise ValueError(f"pixel token {tok!r} before any order/")
        if "-" in tok:
            lo_s, hi_s = tok.split("-", 1)
            lo, hi = int(lo_s), int(hi_s)
        else:
            lo = hi = int(tok)
        cells.extend((cur_order, p) for p in range(lo, hi + 1))
    if order < 0:
        raise ValueError("empty MOC string")
    return uniq_to_flat(cells, order), order


def uniq_from_pixarray(pix: np.ndarray, order: int) -> list[tuple[int, int]]:
    """Numpy reference for moc_from_pixels (testing / driver-side use):
    occupied order-``order`` pixels -> normalized (order, pix) cells."""
    cur = np.unique(np.asarray(pix, dtype=np.int64))
    out: list[tuple[int, int]] = []
    for o in range(order, 0, -1):
        parent, counts = np.unique(cur >> 2, return_counts=True)
        merged = parent[counts == 4]
        keep = cur[~np.isin(cur >> 2, merged)]
        out.extend((o, int(p)) for p in keep)
        cur = merged
        if cur.size == 0:
            break
    out.extend((0, int(p)) for p in cur)
    out.sort()
    return out


# ---------------------------------------------------------------------------
# distributed builders
# ---------------------------------------------------------------------------

def moc_from_pixels(df: DataFrame, pix_col: str, order: int) -> DataFrame:
    """Normalized (moc_order, pix) MOC of the pixels OCCUPIED by ``df``.

    One bounded shuffle: ``distinct()`` on the pixel column (map-side
    partial aggregation caps the exchange at npix(order) rows regardless
    of input size). The bottom-up sibling merge then loops on that tiny
    frame — each step one groupBy + one left_anti join, both on ≤
    npix(o) rows; ``localCheckpoint`` pins each level so the loop's
    lineage stays flat (the same guard knn.py uses against the Spark-4.1
    DAG-doubling pathology).

    This is the A5 count-tree rollup (htm_tree_gen) re-aimed at coverage:
    the reference rolls up COUNTS to serve region counts without point
    reads; this rolls up OCCUPANCY to serve coverage algebra without
    point reads.
    """
    if order < 0:
        raise ValueError("order must be >= 0")
    cur = (df.select(F.col(pix_col).cast("long").alias("pix"))
             .where(F.col("pix").isNotNull())
             .distinct()
             .localCheckpoint(eager=True))
    levels: list[DataFrame] = []
    spark = df.sparkSession
    for o in range(order, 0, -1):
        merged = (cur.groupBy(F.shiftright("pix", 2).alias("ppix"))
                     .agg(F.count("*").alias("n"))
                     .where(F.col("n") == 4)
                     .select(F.col("ppix").alias("pix"))
                     .localCheckpoint(eager=True))
        kept = cur.join(merged.select(F.col("pix").alias("ppix")),
                        F.shiftright(cur["pix"], 2) == F.col("ppix"),
                        "left_anti")
        levels.append(kept.select(F.lit(o).alias("moc_order"), "pix"))
        cur = merged
        if cur.isEmpty():
            break
    else:
        levels.append(cur.select(F.lit(0).alias("moc_order"), "pix"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def moc_from_points(df: DataFrame, order: int, ra_col: str = "ra",
                    dec_col: str = "dec") -> DataFrame:
    """Coverage MOC of the sky positions in ``df`` at ``order``."""
    from ..functions.udfs import hpx_udf

    pixed = df.withColumn("_moc_pix", hpx_udf(order)(ra_col, dec_col))
    return moc_from_pixels(pixed, "_moc_pix", order)


def moc_filter(df: DataFrame, ranges, pix_col: str):
    """Rows of ``df`` whose ``pix_col`` lies in the flat-form MOC — the
    coverage predicate compiles to the same InSet/BETWEEN or-tree every
    covering filter uses (pushes to the parquet scan on a clustered
    table)."""
    from ..functions.cover import ranges_predicate

    return df.filter(ranges_predicate(pix_col, _normalize(ranges)))


def density_mom(df: DataFrame, pix_col: str, order: int,
                max_count: int) -> DataFrame:
    """Adaptive multi-order density map (the HiPS 'MOM' companion of a
    MOC): partition the sky so every emitted cell is the HIGHEST-order
    ancestor whose total row count fits ``max_count`` — dense regions
    refine toward ``order``, empty/sparse sky stays coarse. Finest-order
    cells that still exceed the budget are emitted there (a cell cannot
    split further).

    Emission rule (one per ancestor chain, so cells never overlap):
    a cell at order o with full subtree count n(o) <= max_count is
    emitted iff its parent's full count exceeds max_count (or o == 0);
    sums are FULL rollups, so a parent with one hot child can never
    swallow its cold siblings into an overlapping coarse cell.

    Scale shape: one groupBy bounded at npix(order) output rows (map-side
    combine collapses each partition to its cell histogram first), then
    ``order`` driver-loop steps over that tiny frame — same shape as
    :func:`moc_from_pixels` and the A5 count rollup.

    Returns (moc_order, pix, n).
    """
    if order < 0:
        raise ValueError("order must be >= 0")
    counts = (df.select(F.col(pix_col).cast("long").alias("pix"))
                .where(F.col("pix").isNotNull())
                .groupBy("pix").agg(F.count("*").alias("n"))
                .localCheckpoint(eager=True))
    # full-sum ladder: sums[o] = per-cell totals at order o
    sums = {order: counts}
    for o in range(order, 0, -1):
        sums[o - 1] = (sums[o]
                       .groupBy(F.shiftright("pix", 2).alias("pix"))
                       .agg(F.sum("n").alias("n"))
                       .localCheckpoint(eager=True))
    lit_t = F.lit(int(max_count))
    out = None
    for o in range(order + 1):
        cur = sums[o]
        if o == 0:
            emit = cur.where(F.col("n") <= lit_t)
        else:
            hot_parents = (sums[o - 1].where(F.col("n") > lit_t)
                           .select(F.col("pix").alias("_pp")))
            under = cur.where(F.col("n") <= lit_t) if o < order else cur
            emit = (under.join(hot_parents,
                               F.shiftright(under["pix"], 2) == F.col("_pp"),
                               "left_semi"))
        lv = emit.select(F.lit(o).alias("moc_order"), "pix", "n")
        out = lv if out is None else out.unionByName(lv)
    return out
