"""Region -> cell-ID range-set coverings (driver-side, milliseconds-scale).

Coverings are tiny (<= thousands of ranges) so they run on the Spark driver
in plain Python/numpy; the resulting range lists are broadcast as literal
Column predicates or small DataFrames. Semantics match the reference:

- HTM cone:    htm_s2circle_ids,  /root/reference/lib/src/tinyhtm/src/htm.c:1147-1292
- HTM polygon: htm_s2cpoly_ids,   htm.c:1417-1559 (+ _htm_isect_test 689-810)
- HTM range simplify: _htm_simplify_ids, htm.c:904-926
- HPX cone:    hpxConeSearch,     /root/reference/lib/src/sptQueryLib.c:1311-1630
- HPX polygon: hpxPolygonSearch,  sptQueryLib.c:1633-2090
- gap compression (<=30% false-positive budget): sptQueryLib.c:136-237

Emission order and the adjacent-range merge rule (min == prev.max + 1) are
reproduced exactly, including the reference's zone-3 quirk of emitting
``max = (pix+1) << sdist`` (one past the last subpixel) in HPX coverings.
"""

from __future__ import annotations

import math

import numpy as np

from .geometry import (
    V3,
    RAD_PER_DEG,
    SphericalPolygon,
    edgedist2,
    sc_to_v3,
    v_cross,
    v_dist2,
    v_dot,
    v_midpoint,
    v_neg,
    v_normalize,
)
from .htm import HTM_MAX_LEVEL, Trixel
from .healpix import max_pix_rad, pix2loc

# coverage classification codes (htm.c:81-87)
DISJOINT, INTERSECT, CONTAINS, INSIDE = 0, 1, 2, 3

INF = math.inf
NEG_INF = -math.inf


# ---------------------------------------------------------------------------
# range-list helpers
# ---------------------------------------------------------------------------

def _ranges_add(ranges: list[list[int]], lo: int, hi: int) -> None:
    """_htm_ids_add (htm.c:424-447): merge when adjacent to the last range."""
    if ranges and lo == ranges[-1][1] + 1:
        ranges[-1][1] = hi
    else:
        ranges.append([lo, hi])


def simplify_ranges(ranges: list[list[int]], n: int) -> list[list[int]]:
    """_htm_simplify_ids (htm.c:904-926): coarsen by n levels and merge."""
    if n <= 0 or not ranges:
        return ranges
    mask = (1 << (2 * n)) - 1
    out: list[list[int]] = []
    i = 0
    nr = len(ranges)
    while i < nr:
        lo = ranges[i][0] & ~mask
        hi = ranges[i][1] | mask
        while i < nr - 1:
            nxt = ranges[i + 1][0] & ~mask
            if nxt > hi + 1:
                break
            hi = ranges[i + 1][1] | mask
            i += 1
        out.append([lo, hi])
        i += 1
    return out


# ---------------------------------------------------------------------------
# HTM coverings
# ---------------------------------------------------------------------------

def _circle_cov(t: Trixel, c: V3, dist2: float) -> int:
    """_htm_s2circle_htmcov (htm.c:453-481)."""
    v0, v1, v2 = t.verts
    nin = (v_dist2(c, v0) <= dist2) + (v_dist2(c, v1) <= dist2) + (v_dist2(c, v2) <= dist2)
    if nin == 3:
        return INSIDE
    if nin != 0:
        return INTERSECT
    e0, e1, e2 = t.edges
    if (
        edgedist2(c, v0, v1, e0) <= dist2
        or edgedist2(c, v1, v2, e1) <= dist2
        or edgedist2(c, v2, v0, e2) <= dist2
    ):
        return INTERSECT
    if v_dot(c, e0) >= 0.0 and v_dot(c, e1) >= 0.0 and v_dot(c, e2) >= 0.0:
        return CONTAINS
    return DISJOINT


def _isect_test(v1: V3, v2: V3, n: V3, poly: SphericalPolygon) -> int:
    """_htm_isect_test (htm.c:689-772): 1-D LP feasibility for edge/edge
    intersection between trixel edge (v1,v2) and any polygon edge."""
    c0 = v_cross(n, v1)
    c1 = v_cross(v2, n)
    ab: list[float] = []
    if n.z != 0.0:
        s = 1.0 if n.z > 0.0 else -1.0
        ab += [s * (c0.x * n.z - c0.z * n.x), s * (c0.y * n.z - c0.z * n.y)]
        ab += [s * (c1.x * n.z - c1.z * n.x), s * (c1.y * n.z - c1.z * n.y)]
        for e in poly.edges:
            ab += [s * (e.x * n.z - e.z * n.x), s * (e.y * n.z - e.z * n.y)]
    elif n.y != 0.0:
        s = 1.0 if n.y > 0.0 else -1.0
        ab += [s * (c0.x * n.y - c0.y * n.x), s * (c0.z * n.y)]
        ab += [s * (c1.x * n.y - c1.y * n.x), s * (c1.z * n.y)]
        for e in poly.edges:
            ab += [s * (e.x * n.y - e.y * n.x), s * (e.z * n.y)]
    elif n.x != 0.0:
        s = 1.0 if n.x > 0.0 else -1.0
        ab += [s * (c0.y * n.x), s * (c0.z * n.x)]
        ab += [s * (c1.y * n.x), s * (c1.z * n.x)]
        for e in poly.edges:
            ab += [s * (e.y * n.x), s * (e.z * n.x)]
    else:
        return 0
    min_1 = min_m1 = NEG_INF
    max_1 = max_m1 = INF
    neg = pos = 0
    for i in range(len(ab) // 2):
        a = ab[2 * i]
        b = ab[2 * i + 1]
        if a == 0.0:
            if b < 0.0:
                min_1, max_1 = INF, NEG_INF
            elif b > 0.0:
                min_m1, max_m1 = INF, NEG_INF
        elif a < 0.0:
            neg += 1
            d = -b / a
            if d < max_1:
                max_1 = d
            if -d < max_m1:
                max_m1 = -d
        else:
            pos += 1
            d = -b / a
            if d > min_1:
                min_1 = d
            if -d > min_m1:
                min_m1 = -d
    if min_1 <= max_1 or min_m1 <= max_m1:
        return 1
    return 1 if (neg == 0 or pos == 0) else 0


def _cpoly_cov(t: Trixel, poly: SphericalPolygon) -> int:
    """_htm_s2cpoly_htmcov (htm.c:780-810)."""
    v0, v1, v2 = t.verts
    nin = poly.contains(v0) + poly.contains(v1) + poly.contains(v2)
    if nin == 3:
        return INSIDE
    if nin != 0:
        return INTERSECT
    e0, e1, e2 = t.edges
    if (
        _isect_test(v0, v1, e0, poly)
        or _isect_test(v1, v2, e1, poly)
        or _isect_test(v2, v0, e2, poly)
    ):
        return INTERSECT
    if (
        v_dot(poly.vsum, e0) >= 0.0
        and v_dot(poly.vsum, e1) >= 0.0
        and v_dot(poly.vsum, e2) >= 0.0
    ):
        return CONTAINS
    return DISJOINT


def _htm_cover_split(classify, level: int):
    """Like _htm_cover but keeps the DFS's coverage classification: returns
    (inside_ranges, boundary_ranges). INSIDE subtrees are wholly within the
    region (rows there need NO geometry evaluation — the reference's
    count-without-scan fast path, htm.c:1666-1669); boundary ranges are
    INTERSECT cells at the target level that need the exact predicate."""
    if level < 0 or level > HTM_MAX_LEVEL:
        raise ValueError(f"level must be in [0, {HTM_MAX_LEVEL}]")
    inside: list[list[int]] = []
    boundary: list[list[int]] = []
    prune_to_root = False
    for root in range(8):
        frames: list[list[Trixel]] = [[Trixel.root(root)]]
        while frames:
            frame = frames[-1]
            if not frame:
                frames.pop()
                continue
            t = frame.pop(0)
            cov = classify(t)
            if cov == CONTAINS:
                if t.level == 0:
                    prune_to_root = True
                else:
                    frame.clear()
                cov = INTERSECT
            if cov == INTERSECT:
                if t.level < level:
                    frames.append(t.children())
                    continue
                _ranges_add(boundary, t.tid, t.tid)
                continue
            if cov == INSIDE:
                shift = 2 * (level - t.level)
                lo = t.tid << shift
                n = 1 << shift
                _ranges_add(inside, lo, lo + n - 1)
        if prune_to_root:
            break
    return inside, boundary


def htm_circle_ranges_split(ra: float, dec: float, radius_deg: float,
                            level: int):
    """(inside_ranges, boundary_ranges) for a cone covering."""
    if radius_deg < 0.0:
        return [], []
    if radius_deg >= 180.0:
        return [[8 << (2 * level), (16 << (2 * level)) - 1]], []
    center = sc_to_v3(ra, dec)
    d = math.sin(radius_deg * 0.5 * RAD_PER_DEG)
    dist2 = 4.0 * d * d
    return _htm_cover_split(lambda t: _circle_cov(t, center, dist2), level)


def _htm_cover(classify, level: int, maxranges: int | None = None) -> list[list[int]]:
    """Shared DFS over the 8 HTM roots (htm.c:1209-1283 control flow).

    ``classify(trixel) -> cov``; CONTAINS prunes remaining siblings/roots;
    INSIDE (or reaching efflevel) emits the whole-subtree id range; maxranges
    triggers _htm_simplify_ids-style coarsening of the effective level.
    """
    if level < 0 or level > HTM_MAX_LEVEL:
        raise ValueError(f"level must be in [0, {HTM_MAX_LEVEL}]")
    ranges: list[list[int]] = []
    prune_to_root = False
    for root in range(8):
        # iterative DFS preserving child order 0,1,2,3 (= ascending IDs)
        frames: list[list[Trixel]] = [[Trixel.root(root)]]
        while frames:
            frame = frames[-1]
            if not frame:
                frames.pop()
                continue
            t = frame.pop(0)
            cov = classify(t)
            if cov == CONTAINS:
                if t.level == 0:
                    prune_to_root = True  # no other roots needed
                else:
                    frame.clear()  # no other siblings needed
                cov = INTERSECT  # fall through to subdivide/emit
            if cov == INTERSECT:
                if t.level < level:
                    frames.append(t.children())
                    continue
                cov = INSIDE
            if cov == INSIDE:
                shift = 2 * (level - t.level)
                lo = t.tid << shift
                n = 1 << shift
                _ranges_add(ranges, lo, lo + n - 1)
            # DISJOINT: skip
        if prune_to_root:
            break
    # maxranges coarsening: the reference coarsens mid-DFS (htm.c:1249-1258);
    # since the constraint builders always pass SIZE_MAX we coarsen post-hoc,
    # which yields the same covering superset guarantee.
    if maxranges is not None:
        coarsen = 1
        while len(ranges) > maxranges and coarsen <= level:
            ranges = simplify_ranges(ranges, coarsen)
            coarsen += 1
    return ranges


def htm_circle_ranges(ra: float, dec: float, radius_deg: float, level: int,
                      maxranges: int | None = None) -> list[list[int]]:
    """htm_s2circle_ids (htm.c:1147-1292) over a cone."""
    if radius_deg < 0.0:
        return []
    if radius_deg >= 180.0:
        return [[8 << (2 * level), (16 << (2 * level)) - 1]]
    center = sc_to_v3(ra, dec)
    d = math.sin(radius_deg * 0.5 * RAD_PER_DEG)
    dist2 = 4.0 * d * d
    return _htm_cover(lambda t: _circle_cov(t, center, dist2), level, maxranges)


def htm_polygon_ranges(poly: SphericalPolygon, level: int,
                       maxranges: int | None = None) -> list[list[int]]:
    """htm_s2cpoly_ids (htm.c:1417-1559) over a convex spherical polygon."""
    return _htm_cover(lambda t: _cpoly_cov(t, poly), level, maxranges)


def htm_polygon_ranges_split(poly: SphericalPolygon, level: int):
    """(inside_ranges, boundary_ranges) for a convex-polygon covering —
    the polygon analogue of the reference's count-tree walk
    (htm_tree_s2cpoly_range, htm.c:2115-2292)."""
    return _htm_cover_split(lambda t: _cpoly_cov(t, poly), level)


# ---------------------------------------------------------------------------
# HPX coverings (stack-based DFS in ascending nested order)
# ---------------------------------------------------------------------------

def hpx_cone_ranges(omax: int, ra: float, dec: float, radius_deg: float,
                    exact_ends: bool = False) -> list[list[int]]:
    """hpxConeSearch (sptQueryLib.c:1311-1630).

    Zone logic per pixel: bounding-circle test against cos(r±dr[order]);
    zone 3 emits [pix<<2k, (pix+1)<<2k] (the reference's one-past-end form),
    zones 1-2 recurse, bottom level keeps single pixels. Emission order is
    ascending so the adjacent-merge check matches the reference exactly.

    exact_ends=True emits the true subtree end ((pix+1)<<2k - 1) instead of
    the reference's one-past-end quirk cell — REQUIRED whenever the ranges
    feed certainty-sensitive consumers (count lower bounds): the quirk cell
    belongs to the NEXT Z-order sibling and can lie entirely outside the
    region. String-parity paths keep the default.
    """
    dtr = RAD_PER_DEG
    ux = math.cos(ra * dtr) * math.cos(dec * dtr)
    uy = math.sin(ra * dtr) * math.cos(dec * dtr)
    uz = math.sin(dec * dtr)
    radius = radius_deg * dtr
    cosrad = math.cos(radius)

    dr = [0.0] * (omax + 1)
    crpdr = [0.0] * (omax + 1)
    crmdr = [0.0] * (omax + 1)
    for o in range(omax + 1):
        dr[o] = max_pix_rad(o)
        crpdr[o] = -1.0 if radius + dr[o] > math.pi else math.cos(radius + dr[o])
        crmdr[o] = 1.0 if radius - dr[o] < 0.0 else math.cos(radius - dr[o])

    ranges: list[list[int]] = []
    stack: list[tuple[int, int]] = [(11 - i, 0) for i in range(12)]
    while stack:
        pix, o = stack.pop()
        z, phi = pix2loc(o, pix)
        sintheta = math.sqrt((1.0 - z) * (1.0 + z))
        px = sintheta * math.cos(phi)
        py = sintheta * math.sin(phi)
        pz = z
        cangdist = ux * px + uy * py + uz * pz
        if cangdist <= crpdr[o]:
            continue  # zone 0
        if cangdist < cosrad:
            zone = 1
        elif cangdist <= crmdr[o]:
            zone = 2
        else:
            zone = 3
        if o < omax:
            if zone == 3:
                sdist = 2 * (omax - o)
                lo = pix << sdist
                # reference quirk: one past the end (see exact_ends)
                hi = ((pix + 1) << sdist) - (1 if exact_ends else 0)
                if ranges and lo == ranges[-1][1] + 1:
                    ranges[-1][1] = hi
                else:
                    ranges.append([lo, hi])
            else:
                for i in range(4):
                    stack.append((4 * pix + 3 - i, o + 1))
        else:
            if ranges and pix == ranges[-1][1] + 1:
                ranges[-1][1] = pix
            else:
                ranges.append([pix, pix])
    return ranges


def _bounding_circle(points: list[V3]) -> tuple[V3, float]:
    """hpxBoundingCircle / hpxGetCircle (sptQueryLib.c:2295-2320)."""

    def get_circle(q: int) -> tuple[V3, float]:
        center = v_midpoint(points[0], points[1])
        cosrad = v_dot(points[0], center)
        for i in range(1, q):
            if v_dot(points[i], center) < cosrad:
                center, cosrad = get_circle(i)
        return center, cosrad

    center = v_midpoint(points[0], points[1])
    cosrad = v_dot(points[0], center)
    for i in range(2, len(points)):
        if v_dot(points[i], center) < cosrad:
            center, cosrad = get_circle(i)
    return center, cosrad


def polygon_normals(ra: list[float], dec: list[float]) -> list[V3]:
    """Vertex->edge-normal computation with handedness detection and flip
    (sptQueryLib.c:647-699 / 1679-1712). Raises ValueError with the
    reference's exact error strings on degenerate/non-convex input."""
    npoly = len(ra)
    dtr = RAD_PER_DEG
    poly = [
        V3(
            math.cos(ra[i] * dtr) * math.cos(dec[i] * dtr),
            math.sin(ra[i] * dtr) * math.cos(dec[i] * dtr),
            math.sin(dec[i] * dtr),
        )
        for i in range(npoly)
    ]
    normals: list[V3] = []
    flip = 1
    for i in range(npoly):
        nrm = v_normalize(v_cross(poly[i], poly[(i + 1) % npoly]))
        handedness = v_dot(nrm, poly[(i + 2) % npoly])
        if abs(handedness) < 1.0e-10:
            raise ValueError("Degenerate polygon corner.")
        if i == 0 and handedness < 0.0:
            flip = -1
        if i > 0 and flip * handedness <= 0.0:
            raise ValueError("Polygon is not convex;")
        if flip < 0:
            nrm = v_neg(nrm)
        normals.append(nrm)
    return normals


def hpx_polygon_ranges(omax: int, ra: list[float], dec: list[float],
                       exact_circle: bool = False) -> list[list[int]]:
    """hpxPolygonSearch (sptQueryLib.c:1633-2090).

    ``exact_circle=False`` reproduces the reference bit-for-bit, INCLUDING
    a defect observed in this sandbox: hpxBoundingCircle/hpxGetCircle
    (sptQueryLib.c:2295-2320) can return a circle smaller than the polygon
    for large polygons, so the zone-0 pre-reject drops member cells (a
    30x25-degree quad loses 65 of 196 true rows). ``exact_circle=True``
    replaces it with a valid enclosing circle (centroid + min vertex dot),
    making the covering a true superset; constraint-STRING parity tests use
    False, the engine's executable predicates use True."""
    npoly = len(ra)
    dtr = RAD_PER_DEG
    poly = [
        V3(
            math.cos(ra[i] * dtr) * math.cos(dec[i] * dtr),
            math.sin(ra[i] * dtr) * math.cos(dec[i] * dtr),
            math.sin(dec[i] * dtr),
        )
        for i in range(npoly)
    ]
    normals = polygon_normals(ra, dec)

    if exact_circle:
        c = V3(sum(p.x for p in poly), sum(p.y for p in poly), sum(p.z for p in poly))
        center = v_normalize(c)
        cosrad = min(v_dot(center, p) for p in poly)
    else:
        center, cosrad = _bounding_circle(poly)
    rcenter = math.acos(cosrad)

    dr = [0.0] * (omax + 1)
    crlimit = [[None] * npoly for _ in range(omax + 1)]
    for o in range(omax + 1):
        dr[o] = max_pix_rad(o)
        for i in range(npoly):
            c0 = -1.0 if HALF_PI + dr[o] > math.pi else math.cos(HALF_PI + dr[o])
            c1 = 0.0
            c2 = 1.0 if HALF_PI - dr[o] < 0.0 else math.cos(HALF_PI - dr[o])
            crlimit[o][i] = (c0, c1, c2)

    ranges: list[list[int]] = []
    stack: list[tuple[int, int]] = [(11 - i, 0) for i in range(12)]
    while stack:
        pix, o = stack.pop()
        z, phi = pix2loc(o, pix)
        sintheta = math.sqrt((1.0 - z) * (1.0 + z))
        px = sintheta * math.cos(phi)
        py = sintheta * math.sin(phi)
        pz = z

        zone = 3
        for i in range(npoly):
            crad = px * normals[i].x + py * normals[i].y + pz * normals[i].z
            rdist = math.acos(px * center.x + py * center.y + pz * center.z)
            if rdist > rcenter + dr[o]:
                zone = 0
            izone = 0
            while izone < zone:  # re-evaluated bound, like C's izone<zone
                if crad < crlimit[o][i][izone]:
                    zone = izone
                    if zone == 0:
                        break
                izone += 1
            if zone == 0:
                break
        if zone == 0:
            continue
        if o < omax:
            if zone == 3:
                sdist = 2 * (omax - o)
                lo = pix << sdist
                hi = (pix + 1) << sdist
                if ranges and lo == ranges[-1][1] + 1:
                    ranges[-1][1] = hi
                else:
                    ranges.append([lo, hi])
            else:
                for i in range(4):
                    stack.append((4 * pix + 3 - i, o + 1))
        else:
            if ranges and pix == ranges[-1][1] + 1:
                ranges[-1][1] = pix
            else:
                ranges.append([pix, pix])
    return ranges


HALF_PI = 1.570796326794896619231321691639751442099


# ---------------------------------------------------------------------------
# gap compression (sptQueryLib.c:136-237)
# ---------------------------------------------------------------------------

def compress_gaps(ranges: list[list[int]], maxpct: float = 30.0) -> list[list[int]]:
    """Greedy smallest-gaps-first merge under a false-positive cell budget.

    gap[i] = min[i] - max[i-1] (the reference's off-by-one-inclusive form);
    gaps are stable-sorted ascending (glibc qsort is a stable mergesort,
    sptSortCmpFunc sptQueryLib.c:1242-1253) and absorbed while the running
    percentage of total covered cells stays under ``maxpct``.
    """
    n = len(ranges)
    if n == 0:
        return []
    mins = np.array([r[0] for r in ranges], dtype=np.int64)
    maxs = np.array([r[1] for r in ranges], dtype=np.int64)
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = mins[1:] - maxs[:-1]
    total = float(np.sum(maxs - mins + 1))
    order = np.argsort(gaps, kind="stable")
    remove = np.zeros(n, dtype=bool)
    sumpct = 0.0
    for idx in order:
        pct = 100.0 * float(gaps[idx]) / total
        sumpct += pct
        if sumpct < maxpct and idx > 0:
            remove[idx] = True
    out: list[list[int]] = []
    for i in range(n):
        if remove[i]:
            out[-1][1] = int(maxs[i])
        else:
            out.append([int(mins[i]), int(maxs[i])])
    return out


def sql_name(col: str) -> str:
    """``col`` as a SQL column reference that resolves as ``F.col(col)``
    does: each dot-separated part backquoted (so keywords and odd
    characters parse), a name the caller already quoted kept as is."""
    if "`" in col:
        return col
    return ".".join(f"`{part}`" for part in col.split("."))


def _sql_literal(v) -> str:
    """One IN-list element as SQL text: an integer as its digits, a string
    single-quoted with its backslashes and quotes backslash-escaped, None
    as NULL."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return str(int(v))
    raise TypeError(f"IN-set literal must be an int or a str, got {type(v)!r}")


def in_predicate(col: str, values) -> "object":
    """``col IN (values)`` as ONE ``F.expr``: a single py4j call however
    many values, where ``Column.isin`` makes one per literal (measured
    0.3-0.5 s for 500 ids against ~2 ms). Same rows as ``isin`` and the
    same plan: Catalyst's In/InSet, pushed to the scan as ``In``.
    ``col`` is a column name; an empty ``values`` gives ``lit(False)``."""
    from pyspark.sql import functions as F

    if not len(values):
        return F.lit(False)
    return F.expr(f"{sql_name(col)} IN ({', '.join(map(_sql_literal, values))})")


def ranges_predicate(col: str, ranges) -> "object":
    """Covering ranges over the column named ``col`` -> one Catalyst
    Column: an IN-set of the single cells and BETWEEN disjuncts for the
    rest, `lit(False)` for an empty covering. The single shared
    implementation for every ranges-to-predicate site (filter, counts,
    streaming, Iceberg-lite read).

    Singleton cells collapse into one IN-set (Catalyst InSet, O(1)/row,
    rendered by :func:`in_predicate`) and the remaining disjuncts combine
    as a BALANCED or-tree — a linear left-deep chain over a few hundred
    ranges overflows Catalyst's recursive tree walks (java
    StackOverflowError, hit by hex cell-list coverings whose every range
    is a singleton)."""
    from pyspark.sql import functions as F

    singles = [int(lo) for lo, hi in ranges if int(lo) == int(hi)]
    preds = []
    if singles:
        preds.append(in_predicate(col, singles))
    c = F.col(col)
    preds.extend(c.between(int(lo), int(hi))
                 for lo, hi in ranges if int(lo) != int(hi))
    if not preds:
        return F.lit(False)
    while len(preds) > 1:  # balanced pairwise OR: depth log2(n)
        preds = [preds[i] | preds[i + 1] if i + 1 < len(preds) else preds[i]
                 for i in range(0, len(preds), 2)]
    return preds[0]
