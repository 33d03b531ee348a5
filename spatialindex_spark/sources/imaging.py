"""Numpy-only image codecs + perceptual hash for the image+caption table.

No PIL/cv2 in this environment (SURVEY.md env facts), so the engine carries
its own codecs. All functions operate on uint8 arrays of shape (h, w, 3):

- ``fmt="raw"``: uncompressed C-order bytes.
- ``fmt="z"``:   zlib-compressed raw bytes (lossless).
- ``fmt="dct"``: lossy 8x8 block DCT with uniform quantization — a genuinely
  lossy format tuned so decode PSNR >= 40 dB (north-rule invariant).

``phash64``: 64-bit average-hash of the decoded image's 8x8 grayscale
downsample (FIXTURES.md §1).

Everything is vectorized numpy; batch entry points (encode_batch /
decode_batch) are what the mapInPandas operators call.
"""

from __future__ import annotations

import zlib

import numpy as np

_Q = 5.0  # DCT quantization step; keeps decode PSNR >= 40 dB (north rule)


def _dct_mat(n: int = 8) -> np.ndarray:
    k = np.arange(n)
    mat = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    mat[0] = np.sqrt(1.0 / n)
    return mat


_D8 = _dct_mat(8)


def _blockify(img: np.ndarray) -> np.ndarray:
    """(h, w) -> (nb, 8, 8) with edge padding to multiples of 8."""
    h, w = img.shape
    ph, pw = (-h) % 8, (-w) % 8
    img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    H, W = img.shape
    return img.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8), H, W


def encode(img: np.ndarray, fmt: str) -> bytes:
    """uint8 (h, w, 3) -> payload bytes."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("expected uint8 (h, w, 3)")
    if fmt == "raw":
        return img.tobytes()
    if fmt == "z":
        return zlib.compress(img.tobytes(), 6)
    if fmt == "dct":
        h, w, _ = img.shape
        coeffs = []
        for c in range(3):
            blocks, H, W = _blockify(img[:, :, c].astype(np.float64) - 128.0)
            f = _D8 @ blocks @ _D8.T
            q = np.rint(f / _Q).astype(np.int16)
            coeffs.append(q)
        payload = np.concatenate([c.ravel() for c in coeffs]).astype("<i2").tobytes()
        return zlib.compress(payload, 6)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """payload bytes -> writable uint8 (h, w, 3): the one full-image window
    of :func:`decode_windows`."""
    return decode_windows(data, w, h, fmt, [(0, w, 0, h)], channel=None)[0].copy()


def decode_windows(data: bytes, w: int, h: int, fmt: str,
                   windows, channel: int | None = 0) -> list:
    """Decode SEVERAL windows of one payload with the per-payload work
    (zlib decompress) done ONCE. Each returned array is the crop
    ``[y0:y1, x0:x1, channel]`` (or ``[y0:y1, x0:x1]`` for
    ``channel=None``) of the decoded image, without decoding pixels
    outside the windows: for "dct" ONLY the 8x8 blocks intersecting a
    window are dequantized and run the IDCT, and block decodes are
    independent (same per-block matmul, +128, rint, clip), so any window
    is bit-identical to the same crop of a full-image decode. This is the
    batch entry the pixel operators use after grouping their (target,
    image) windows per image: a survey target list averages several
    windows per matched image, and per-window full decompression was the
    readback stage's dominant Python cost (guide §4.2 / §1.2 per-task
    work). :func:`decode` is its one full-image window.

    ``windows``: iterable of (x0, x1, y0, y1), pre-clipped to the image
    like cutout_windows guarantees. Empty windows yield empty arrays.
    Raw and z windows are read-only views of the payload buffer.
    """
    if fmt in ("raw", "z"):
        buf = data if fmt == "raw" else zlib.decompress(data)
        img = np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
        ch = slice(None) if channel is None else channel

        def crop(x0, x1, y0, y1):
            return img[y0:y1, x0:x1, ch]
    elif fmt == "dct":
        # (channel, block row, block col, 8, 8) int16 coefficients; a
        # window's blocks are one basic slice of it
        q = np.frombuffer(zlib.decompress(data), dtype="<i2").reshape(
            3, (h + 7) // 8, (w + 7) // 8, 8, 8)
        chans = range(3) if channel is None else (channel,)

        def crop(x0, x1, y0, y1):
            by0, by1, bx0, bx1 = y0 // 8, (y1 + 7) // 8, x0 // 8, (x1 + 7) // 8
            planes = []
            for c in chans:
                blocks = _D8.T @ (q[c, by0:by1, bx0:bx1] * _Q) @ _D8
                rect = (blocks.transpose(0, 2, 1, 3)
                        .reshape(8 * (by1 - by0), 8 * (bx1 - bx0))) + 128.0
                o = np.clip(np.rint(rect), 0, 255).astype(np.uint8)
                planes.append(o[y0 - 8 * by0:y1 - 8 * by0,
                                x0 - 8 * bx0:x1 - 8 * bx0])
            return planes[0] if channel is not None \
                else np.stack(planes, axis=-1)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    out: list = []
    for x0, x1, y0, y1 in windows:
        if x0 >= x1 or y0 >= y1:
            shape = (max(y1 - y0, 0), max(x1 - x0, 0))
            out.append(np.empty(shape + (3,) if channel is None else shape,
                                dtype=np.uint8))
        else:
            out.append(crop(x0, x1, y0, y1))
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def grayscale(img: np.ndarray) -> np.ndarray:
    return (0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2])


def downsample8(gray: np.ndarray) -> np.ndarray:
    """Mean-pool to 8x8 (works for any h, w >= 8)."""
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    out = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        for j in range(8):
            out[i, j] = gray[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    return out


def phash64(img: np.ndarray) -> int:
    """64-bit average hash: bit i set iff 8x8-downsampled gray[i] > mean.

    Returned as a *signed* int64 (column type per the north-rule schema)."""
    d = downsample8(grayscale(img)).ravel()
    bits = d > d.mean()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    # wrap to signed int64
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & ((1 << 64) - 1)).count("1"))


def synth_image(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic image for image_id index ``i``: smooth 2-D
    sinusoid field + seeded noise (compresses like natural content, so the
    DCT codec's PSNR numbers are honest)."""
    rng = np.random.default_rng(42 + i)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    fx, fy, ph = rng.uniform(0.02, 0.2, 3)
    base = 127.0 + 90.0 * np.sin(2 * np.pi * (fx * xx + fy * yy) + ph * 6.28)
    img = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        chan = base * rng.uniform(0.6, 1.0) + rng.normal(0, 6.0, (h, w))
        img[:, :, c] = np.clip(chan, 0, 255).astype(np.uint8)
    return img


# ---------------------------------------------------------------------------
# multi-frame container ("svc1"): the engine-native video payload. Layout:
#   magic b"SVC1" | u32 nframes | u32 w | u32 h | u8 fmtlen | fmt bytes |
#   nframes x (u32 len) | concatenated per-frame encode() payloads.
# Frame payloads use the same per-frame codecs as still images, so the
# PSNR/lossless invariants carry over frame-by-frame.
# ---------------------------------------------------------------------------

_VID_MAGIC = b"SVC1"


def encode_video(frames: "list[np.ndarray]", fmt: str) -> bytes:
    import struct

    if not frames:
        raise ValueError("need >= 1 frame")
    h, w, _ = frames[0].shape
    payloads = [encode(f, fmt) for f in frames]
    fb = fmt.encode()
    head = _VID_MAGIC + struct.pack("<III B", len(frames), w, h, len(fb)) + fb
    lens = struct.pack(f"<{len(payloads)}I", *[len(p) for p in payloads])
    return head + lens + b"".join(payloads)


def video_info(data: bytes) -> tuple[int, int, int, str, list[tuple[int, int]]]:
    """(nframes, w, h, fmt, [(offset, len) per frame])."""
    import struct

    if data[:4] != _VID_MAGIC:
        raise ValueError("not an SVC1 container")
    nframes, w, h, fmtlen = struct.unpack_from("<III B", data, 4)
    fmt = data[17:17 + fmtlen].decode()
    lens = struct.unpack_from(f"<{nframes}I", data, 17 + fmtlen)
    off = 17 + fmtlen + 4 * nframes
    spans = []
    for ln in lens:
        spans.append((off, ln))
        off += ln
    return nframes, w, h, fmt, spans


def decode_video_frame(data: bytes, idx: int) -> np.ndarray:
    nframes, w, h, fmt, spans = video_info(data)
    o, ln = spans[idx]
    return decode(data[o:o + ln], w, h, fmt)


def synth_video(i: int, w: int, h: int, nframes: int) -> "list[np.ndarray]":
    """Deterministic clip: the synth image pattern with a per-frame phase
    drift (what a camera pan would look like to the codecs)."""
    return [np.roll(synth_image(i, w, h), shift=3 * t, axis=1)
            for t in range(nframes)]


# ---------------------------------------------------------------------------
# audio payloads: int16 PCM, zlib-packed ("pcmz") or raw ("pcm").
# ---------------------------------------------------------------------------

def synth_audio(i: int, n_samples: int = 8000, rate: int = 8000) -> np.ndarray:
    """Deterministic int16 mono clip: two detuned tones + seeded noise."""
    rng = np.random.default_rng(1000 + i)
    t = np.arange(n_samples) / rate
    f0 = 110.0 * (1 + (i % 24))
    sig = (0.6 * np.sin(2 * np.pi * f0 * t)
           + 0.25 * np.sin(2 * np.pi * f0 * 1.498 * t)
           + 0.05 * rng.standard_normal(n_samples))
    return np.clip(sig * 20000.0, -32768, 32767).astype(np.int16)


def encode_audio(pcm: np.ndarray, fmt: str) -> bytes:
    if pcm.dtype != np.int16 or pcm.ndim != 1:
        raise ValueError("expected int16 mono PCM")
    if fmt == "pcm":
        return pcm.astype("<i2").tobytes()
    if fmt == "pcmz":
        return zlib.compress(pcm.astype("<i2").tobytes(), 6)
    raise ValueError(f"unknown audio fmt {fmt!r}")


def decode_audio(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "pcm":
        return np.frombuffer(data, dtype="<i2").astype(np.int16)
    if fmt == "pcmz":
        return np.frombuffer(zlib.decompress(data), dtype="<i2").astype(np.int16)
    raise ValueError(f"unknown audio fmt {fmt!r}")


def synth_image_sources(i: int, w: int, h: int, n_src: int = 3,
                        background_cap: int = 250,
                        amplitude: int = 255) -> np.ndarray:
    """Deterministic synthetic image with planted point sources: the
    synth_image background clipped to ``background_cap`` plus ``n_src``
    single-pixel spikes at integer positions derived from the image id
    (odd multipliers against power-of-two dims guarantee the positions
    are distinct within an image).  Because the spike amplitude exceeds
    the cap, threshold detection recovers the planted set EXACTLY under
    a lossless codec — which is what makes the source-extraction
    pipeline value-oracle-able (the oracle replays the integer
    arithmetic in SQL)."""
    img = np.minimum(synth_image(i, w, h), np.uint8(background_cap))
    for s in range(n_src):
        px = (i * 7919 + s * 2741 + 5) % w
        py = (i * 6133 + s * 3571 + 11) % h
        img[py, px, :] = amplitude
    return img


def synth_image_photometric(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic image whose EVERY pixel is an integer
    formula of (image id, x, y, channel):

        value(x, y, c) = (i*31 + x*7 + y*13 + c*29) % 251

    Unlike synth_image (RNG-based, only its planted spikes are
    replayable), the full frame is SQL-expressible, so integrals over
    pixel windows — aperture photometry — can be value-oracled exactly
    in DuckDB (sum the same formula over unnest(range(x0,x1)) x
    unnest(range(y0,y1))). Encode with a lossless codec (raw/z) to keep
    the oracle bit-exact."""
    xx = np.arange(w, dtype=np.int64) * 7
    yy = np.arange(h, dtype=np.int64) * 13
    base = np.int64(i) * 31 + yy[:, None, None] + xx[None, :, None]
    return ((base + np.arange(3, dtype=np.int64) * 29) % 251).astype(np.uint8)
