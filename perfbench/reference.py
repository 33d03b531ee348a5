"""Independent numpy references for every measured operation.

Each reference is computed from the raw generated inputs, outside every
timer, and never calls the engine's Spark operators. Geometry uses unit
vectors built here from (ra, dec).

Neighbour searches (crossmatch pairs, kNN top-k) are exhaustive dot
products over a 3-D grid of cube cells of side ``s`` in (x, y, z): every
point within chord distance ``s`` of a query lies in the 3x3x3 block of
cells around the query's cell, so comparing the query with every point of
that block is exact for any separation up to ``s``.

Boundary band. A row whose predicate value lies within ``BAND`` of the
predicate's threshold (for example ``|dot - cos r| < 1e-12`` for a cone)
is excluded from the comparison in both directions: the engine evaluates
the same predicate with another operation order, so the last bits may
legitimately differ there. Excluded rows are counted and reported.
"""

from __future__ import annotations

import math
import zlib
from dataclasses import dataclass

import numpy as np

BAND = 1e-12
#: continuous pixel coordinates closer than this to a pixel edge are
#: treated as ambiguous (the engine rounds via other trig expressions)
PX_BAND = 1e-7


def unit_vectors(ra: np.ndarray, dec: np.ndarray) -> np.ndarray:
    a, d = np.radians(ra), np.radians(dec)
    cd = np.cos(d)
    return np.stack([np.cos(a) * cd, np.sin(a) * cd, np.sin(d)], axis=1)


@dataclass
class Check:
    """Outcome of comparing one engine result with its reference."""
    ok: bool
    excluded: int  # rows or pairs inside the boundary band, not compared
    detail: str = ""


def compare_sets(got, want, ambiguous=()) -> Check:
    got, want, amb = set(got), set(want), set(ambiguous)
    bad = (got ^ want) - amb
    detail = ""
    if bad:
        extra = sorted(got - want - amb)[:5]
        missing = sorted(want - got - amb)[:5]
        detail = (f"{len(got - want - amb)} unexpected (e.g. {extra}), "
                  f"{len(want - got - amb)} missing (e.g. {missing})")
    return Check(not bad, len(amb & (want | got)), detail)


# ---- region predicates -------------------------------------------------------

def cone(xyz: np.ndarray, ra: float, dec: float, radius_deg: float):
    """(inside, ambiguous) row-index arrays of a cone."""
    c = unit_vectors(np.array([ra]), np.array([dec]))[0]
    d = xyz @ c - math.cos(math.radians(radius_deg))
    return np.flatnonzero(d >= 0), np.flatnonzero(np.abs(d) < BAND)


def polygon(xyz: np.ndarray, ra: list, dec: list):
    """(inside, ambiguous) row-index arrays of a convex polygon: the
    intersection of the half-spaces n_i . p >= 0 with n_i the normalized
    cross product of consecutive vertices, oriented so that the vertex
    after an edge lies on its inner side."""
    v = unit_vectors(np.asarray(ra, float), np.asarray(dec, float))
    n = np.cross(v, np.roll(v, -1, axis=0))
    n /= np.linalg.norm(n, axis=1)[:, None]
    if n[0] @ v[2 % len(v)] < 0:
        n = -n
    m = (xyz @ n.T).min(axis=1)
    return np.flatnonzero(m >= 0), np.flatnonzero(np.abs(m) < BAND)


# ---- neighbour searches --------------------------------------------------------

def _grid_candidates(xyz: np.ndarray, rows: np.ndarray, side: float,
                     max_pairs: int = 4_000_000):
    """Yield (query_rows, candidate_rows) chunks: every point in the 3x3x3
    cell block around each query row. Deterministic order."""
    g = int(math.ceil(2.0 / side)) + 3
    cell = np.floor((xyz + 1.0) / side).astype(np.int64) + 1
    key = (cell[:, 0] * g + cell[:, 1]) * g + cell[:, 2]
    order = np.argsort(key, kind="stable")
    skey = key[order]
    offs = np.array([(dx * g + dy) * g + dz
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                     for dz in (-1, 0, 1)], dtype=np.int64)
    nkeys = key[rows][:, None] + offs[None, :]
    lo = np.searchsorted(skey, nkeys, side="left")
    hi = np.searchsorted(skey, nkeys, side="right")
    cnt = (hi - lo).sum(axis=1)
    start = 0
    while start < len(rows):
        csum = np.cumsum(cnt[start:])
        stop = start + max(1, int(np.searchsorted(csum, max_pairs, side="right")))
        q = np.repeat(rows[start:stop], cnt[start:stop])
        l, h = lo[start:stop].ravel(), hi[start:stop].ravel()
        seg = h - l
        pos = np.repeat(l - np.cumsum(seg) + seg, seg) + np.arange(seg.sum())
        yield q, order[pos]
        start = stop


def pairs_within(xyz: np.ndarray, ids: np.ndarray, radius_deg: float):
    """All (id_l, id_r) with separation <= radius (self pairs included),
    plus the ambiguous ones within BAND of the radius."""
    cosr = math.cos(math.radians(radius_deg))
    side = 2.0 * math.sin(math.radians(radius_deg) / 2.0) * 1.0001
    inside, amb = [], []
    for q, c in _grid_candidates(xyz, np.arange(len(xyz)), side):
        d = np.einsum("ij,ij->i", xyz[q], xyz[c]) - cosr
        inside.append(np.stack([ids[q[d >= 0]], ids[c[d >= 0]]], axis=1))
        a = np.abs(d) < BAND
        amb.append(np.stack([ids[q[a]], ids[c[a]]], axis=1))
    return (np.concatenate(inside) if inside else np.empty((0, 2), np.int64),
            np.concatenate(amb) if amb else np.empty((0, 2), np.int64))


def knn_self(xyz: np.ndarray, ids: np.ndarray, k: int):
    """Exact k nearest other rows of every row, ordered by separation with
    the right id as tiebreak. Returns (topk_ids [n, k], ambiguous [n]):
    a row is ambiguous when two of its k+1 nearest dot products lie
    within BAND of each other (the order there is float noise).

    The cell side starts small and grows 4x for the rows not yet
    resolved; a row is resolved once its (k+1)-th nearest candidate lies
    within the side (as a chord), so no point outside the searched block
    can enter its top k+1."""
    n = len(xyz)
    top = np.full((n, k), -1, dtype=np.int64)
    amb = np.zeros(n, dtype=bool)
    todo = np.arange(n)
    side = 0.02
    while len(todo):
        resolved = []
        for q, c in _grid_candidates(xyz, todo, side):
            keep = q != c
            q, c = q[keep], c[keep]
            dot = np.einsum("ij,ij->i", xyz[q], xyz[c])
            o = np.lexsort((ids[c], -dot, q))
            q, c, dot = q[o], c[o], dot[o]
            if not len(q):
                continue
            first = np.r_[0, np.flatnonzero(np.diff(q)) + 1]
            counts = np.diff(np.r_[first, len(q)])
            full = counts > k
            ok = np.zeros(len(first), dtype=bool)
            ok[full] = 2.0 - 2.0 * dot[first[full] + k] <= side * side
            for r in range(k):
                top[q[first[ok]], r] = ids[c[first[ok] + r]]
            d = np.stack([dot[first[ok] + r] for r in range(k + 1)], axis=1)
            amb[q[first[ok]]] = (np.abs(np.diff(d, axis=1)) < BAND).any(axis=1)
            resolved.append(q[first[ok]])
        todo = np.setdiff1d(todo, np.concatenate(resolved) if resolved else [])
        side *= 4.0
    return top, amb


# ---- image cutouts ---------------------------------------------------------------

def gnomonic_px(tra, tdec, ira, idec, w, h, scale_deg):
    """Continuous pixel coordinates of targets in image frames (TAN about
    the image centre, east to -x, north to +y, centre at (w/2, h/2))."""
    a, d = np.radians(tra), np.radians(tdec)
    a0, d0 = np.radians(ira), np.radians(idec)
    den = np.sin(d0) * np.sin(d) + np.cos(d0) * np.cos(d) * np.cos(a - a0)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = np.cos(d) * np.sin(a - a0) / den
        eta = (np.cos(d0) * np.sin(d) - np.sin(d0) * np.cos(d) * np.cos(a - a0)) / den
    s = math.radians(scale_deg)
    return w / 2.0 - xi / s, h / 2.0 + eta / s, den


def cutout_windows(targets, images, scale_deg: float, size_px: int):
    """{(target_id, image_id): (x0, x1, y0, y1)} of every target that
    lands inside an image footprint, and the set of ambiguous pairs
    (a pixel coordinate within PX_BAND of a pixel edge)."""
    t_id, t_ra, t_dec = targets
    i_id, i_ra, i_dec, i_w, i_h = images
    want, amb = {}, set()
    half = size_px // 2
    for tid, ra, dec in zip(t_id, t_ra, t_dec):
        px, py, den = gnomonic_px(ra, dec, i_ra, i_dec, i_w, i_h, scale_deg)
        with np.errstate(invalid="ignore"):
            near = (den > 0) & (px > -1) & (px < i_w + 1) & (py > -1) & (py < i_h + 1)
        for j in np.flatnonzero(near):
            x, y, w, h = px[j], py[j], int(i_w[j]), int(i_h[j])
            key = (int(tid), int(i_id[j]))
            if (abs(x - round(x)) < PX_BAND) or (abs(y - round(y)) < PX_BAND):
                amb.add(key)
                continue
            if not (0 <= x < w and 0 <= y < h):
                continue
            x0r, y0r = math.floor(x) - half, math.floor(y) - half
            want[key] = (max(0, x0r), min(w, x0r + size_px),
                         max(0, y0r), min(h, y0r + size_px))
    return want, amb


def decode_image(payload: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Pixels of a generated payload. raw and z are lossless, so this is
    the generator's image itself; dct goes through the engine codec's full
    decode, the one reference for a lossy format."""
    if fmt == "raw":
        return np.frombuffer(payload, np.uint8).reshape(h, w, 3)
    if fmt == "z":
        return np.frombuffer(zlib.decompress(payload), np.uint8).reshape(h, w, 3)
    from spatialindex_spark.sources import imaging
    return imaging.decode(payload, w, h, fmt)
