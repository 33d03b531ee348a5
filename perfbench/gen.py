"""Seeded input generators for the benchmark workloads.

Everything here is generator output only: sky positions, encoded image
payloads and raw catalog rows. Nothing the engine derives (x, y, z, cell
ids, clustering, table buckets) is produced or cached here; each run
rebuilds those through the engine and pays for them in its own timers.

The same (seed, size) always gives the same arrays. Generation draws from
``numpy.random.default_rng([seed, stream])`` with one fixed stream number
per quantity, so adding a quantity never shifts another one.

Outputs are cached as parquet under the benchmark's work directory, keyed
by workload, seed, size and ``GEN_VERSION``. Bump ``GEN_VERSION`` whenever
a generator changes what it emits.
"""

from __future__ import annotations

import math
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

#: pixel scale of every synthetic image (deg / px)
SCALE_DEG_PX = 0.01
#: image edge lengths (square images), chosen by row index
IMAGE_SIZES = (16, 24)
IMAGE_FMTS = ("raw", "z", "dct")
#: dense-cluster fixture: this share of rows sits in two discs of this radius
HOT_FRACTION = 0.02
HOT_RADIUS_DEG = 0.05

_DCT_Q = 5.0  # must equal the engine codec's quantization step


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(stream)])


def _uniform_sphere(rng: np.random.Generator, n: int):
    ra = rng.uniform(0.0, 360.0, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return ra, dec


#: the two hot-spot centres. Fixed, not seeded: where a dense clump falls
#: on the cell grid sets the kNN rung ladder, and a seeded centre moved the
#: self kNN join between 12 s and 17 s at the same size. The seed moves
#: every row inside and outside the spots.
HOT_SPOTS = [(129.4, 43.7), (34.0, 45.0)]


def sky_positions(seed: int, n: int, stream: int):
    """n positions: uniform sphere plus HOT_FRACTION of rows in two hot
    spots of radius HOT_RADIUS_DEG (tangent-plane uniform discs)."""
    rng = _rng(seed, stream)
    ra, dec = _uniform_sphere(rng, n)
    n_hot = int(round(n * HOT_FRACTION))
    hot_idx = rng.choice(n, size=n_hot, replace=False)
    for k, (hra, hdec) in enumerate(HOT_SPOTS):
        sel = hot_idx[k::2]
        r = HOT_RADIUS_DEG * np.sqrt(rng.uniform(0.0, 1.0, len(sel)))
        th = rng.uniform(0.0, 2.0 * math.pi, len(sel))
        dec[sel] = hdec + r * np.sin(th)
        ra[sel] = (hra + r * np.cos(th) / math.cos(math.radians(hdec))) % 360.0
    return ra, dec


# ---- image payloads --------------------------------------------------------

def _dct_mat(n: int = 8) -> np.ndarray:
    k = np.arange(n)
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


_D8 = _dct_mat(8)


def _compress_all(buffers: list) -> list[bytes]:
    # zlib releases the GIL: four threads, each compressing a quarter
    from concurrent.futures import ThreadPoolExecutor

    parts = [buffers[i::4] for i in range(4)]
    with ThreadPoolExecutor(max_workers=4) as pool:
        done = list(pool.map(lambda p: [zlib.compress(b, 1) for b in p], parts))
    out = [b""] * len(buffers)
    for i, p in enumerate(done):
        out[i::4] = p
    return out


def _encode_many(imgs: np.ndarray, fmt: str) -> list[bytes]:
    """The engine's payload formats, written independently, for a stack of
    (n, h, w, 3) uint8 images: raw C-order bytes, zlib of them, or 8x8
    block DCT coefficients quantized by _DCT_Q and zlib-compressed (planes
    in channel order, blocks row-major)."""
    if fmt == "raw":
        return [img.tobytes() for img in imgs]
    if fmt == "z":
        return _compress_all([img.tobytes() for img in imgs])
    n, h, w, _ = imgs.shape  # sizes are multiples of 8: no edge padding
    blocks = (imgs.astype(np.float64) - 128.0).reshape(
        n, h // 8, 8, w // 8, 8, 3).transpose(0, 5, 1, 3, 2, 4)
    # D8 @ block @ D8.T for every block, as two large matrix products
    f = np.ascontiguousarray(blocks).reshape(-1, 8) @ _D8.T
    f = f.reshape(blocks.shape).swapaxes(-1, -2).reshape(-1, 8) @ _D8.T
    f = f.reshape(blocks.shape).swapaxes(-1, -2)
    q = np.rint(f / _DCT_Q).astype("<i2")
    return _compress_all([c.tobytes() for c in q])


def _images_of_size(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """n smooth-field-plus-noise uint8 images of shape (size, size, 3)."""
    yy, xx = np.mgrid[0:size, 0:size].astype(np.float32)
    f = rng.uniform(0.02, 0.2, (n, 3)).astype(np.float32)
    base = 127.0 + 90.0 * np.sin(
        np.float32(2 * np.pi) * (f[:, 0, None, None] * xx + f[:, 1, None, None] * yy)
        + f[:, 2, None, None] * np.float32(6.28))
    gain = rng.uniform(0.6, 1.0, (n, 1, 1, 3)).astype(np.float32)
    img = rng.integers(-10, 11, (n, size, size, 3), dtype=np.int8).astype(np.float32)
    img += base[..., None] * gain
    return np.clip(img, 0, 255, out=img).astype(np.uint8)


def make_images(seed: int, n: int) -> pa.Table:
    """The archive's image table: image_id, ra, dec, w, h, fmt, bytes."""
    ra, dec = sky_positions(seed, n, stream=10)
    # size and format are a pure function of the row index
    idx = np.arange(n)
    w = np.array(IMAGE_SIZES, dtype=np.int32)[idx % len(IMAGE_SIZES)]
    fmt = np.array(IMAGE_FMTS)[(idx // len(IMAGE_SIZES)) % len(IMAGE_FMTS)]
    payload = np.empty(n, dtype=object)
    for k, size in enumerate(IMAGE_SIZES):
        rng = _rng(seed, 20 + k)
        for f in IMAGE_FMTS:
            rows = np.flatnonzero((w == size) & (fmt == f))
            for lo in range(0, len(rows), 2048):
                chunk = rows[lo:lo + 2048]
                payload[chunk] = _encode_many(
                    _images_of_size(rng, len(chunk), size), f)
    return pa.table({
        "image_id": pa.array(np.arange(n, dtype=np.int64)),
        "ra": pa.array(ra), "dec": pa.array(dec),
        "w": pa.array(w), "h": pa.array(w.copy()),
        "fmt": pa.array(fmt.astype(object), pa.string()),
        "bytes": pa.array(list(payload), pa.binary()),
    })


# ---- catalogs ----------------------------------------------------------------

def make_catalog(seed: int, n: int, stream: int = 30) -> pa.Table:
    """Raw metadata catalog rows: obj_id, ra, dec, mag, t_us."""
    ra, dec = sky_positions(seed, n, stream=stream)
    rng = _rng(seed, stream + 1)
    mag = rng.uniform(12.0, 24.0, n)
    t_us = rng.integers(0, 10 * 365 * 86_400_000_000, n, dtype=np.int64)
    return pa.table({
        "obj_id": pa.array(np.arange(n, dtype=np.int64)),
        "ra": pa.array(ra), "dec": pa.array(dec),
        "mag": pa.array(mag), "t_us": pa.array(t_us),
    })


def make_catalog_batches(seed: int, n: int, n_batches: int, batch_rows: int) -> dict:
    """Raw rows of the write path: a bulk catalog of n rows ("bulk") and
    n_batches micro-batches of batch_rows rows ("batch-<b>"), with ids
    unique across all of them."""
    out = {"bulk": make_catalog(seed, n, stream=50)}
    for b in range(n_batches):
        t = make_catalog(seed, batch_rows, stream=60 + 2 * b)
        ids = np.arange(batch_rows, dtype=np.int64) + n + b * batch_rows
        out[f"batch-{b}"] = t.set_column(0, "obj_id", pa.array(ids))
    return out


# ---- cache ---------------------------------------------------------------------

#: cache entries kept per kind; older ones are deleted on each miss
CACHE_KEEP = 3


def cached(work_dir: str, kind: str, key: str, build) -> str:
    """Directory holding the generator output ``build()`` for (kind, key):
    one parquet file per table it returns (a pyarrow Table is named
    "data"). Built on a miss, through a temporary directory and a rename,
    so a killed run never leaves a torn entry."""
    import shutil

    root = os.path.join(work_dir, "cache")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{kind}-v{GEN_VERSION}-{key}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build()
    if isinstance(tables, pa.Table):
        tables = {"data": tables}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=65536)
    old = sorted((e for e in os.listdir(root)
                  if e.startswith(f"{kind}-v") and not e.endswith(".tmp")),
                 key=lambda e: os.path.getmtime(os.path.join(root, e)))
    for e in old[:max(0, len(old) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(root, e), ignore_errors=True)
    os.replace(tmp, path)
    return path
