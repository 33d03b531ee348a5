"""Cutout / mosaic operator tests: window math vs brute force, pixel
extraction vs direct numpy slicing, mosaic coadd vs a straight numpy
reference, and the metadata-only plan guarantee (bytes never scanned
for the window stage).

Reference context: the cutout service is the deployment workload the
reference's cell indexing exists for (README.md:9-24 — position-indexed
image metadata tables); the operators here are new engine capability
layered on crossmatch (J3) + the HPX cell machinery (P5/C5).
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialindex_spark.operators.cutouts import (
    coadd_mosaic, cutout_pixels, cutout_windows, tan_pix_np)
from spatialindex_spark.functions.healpix import max_pix_rad, pix2vec
from spatialindex_spark.sources import imaging

SCALE = 0.02   # deg / px
SIZE = 10


def _mk_tables(spark, n_img=60, n_tgt=120, seed=7):
    rng = np.random.default_rng(seed)
    ra_i = rng.uniform(0, 360, n_img)
    dec_i = np.degrees(np.arcsin(rng.uniform(-1, 1, n_img)))
    w = rng.choice([16, 32, 64], n_img).astype(np.int32)
    h = rng.choice([16, 32, 64], n_img).astype(np.int32)
    imgs = pd.DataFrame({"image_id": np.arange(n_img, dtype=np.int64),
                         "ra": ra_i, "dec": dec_i, "w": w, "h": h})
    # half the targets land near an image center so matches exist
    ra_t = np.concatenate([ra_i[: n_tgt // 2]
                           + rng.uniform(-0.2, 0.2, n_tgt // 2),
                           rng.uniform(0, 360, n_tgt - n_tgt // 2)])
    dec_t = np.concatenate([np.clip(dec_i[: n_tgt // 2]
                                    + rng.uniform(-0.2, 0.2, n_tgt // 2),
                                    -89.9, 89.9),
                            np.degrees(np.arcsin(
                                rng.uniform(-1, 1, n_tgt - n_tgt // 2)))])
    tgts = pd.DataFrame({"target_id": np.arange(n_tgt, dtype=np.int64),
                         "ra": ra_t % 360.0, "dec": dec_t})
    return spark.createDataFrame(imgs), spark.createDataFrame(tgts), imgs, tgts


def _brute_windows(imgs: pd.DataFrame, tgts: pd.DataFrame):
    out = []
    half = SIZE // 2
    for t in tgts.itertuples(index=False):
        px, py, ok = tan_pix_np(t.ra, t.dec, imgs["ra"].to_numpy(),
                                imgs["dec"].to_numpy(),
                                imgs["w"].to_numpy(),
                                imgs["h"].to_numpy(), SCALE)
        m = ok & (px >= 0) & (px < imgs["w"].to_numpy()) \
            & (py >= 0) & (py < imgs["h"].to_numpy())
        for j in np.flatnonzero(m):
            w, h = int(imgs["w"].iloc[j]), int(imgs["h"].iloc[j])
            x0r = int(math.floor(px[j])) - half
            y0r = int(math.floor(py[j])) - half
            out.append((int(t.target_id), int(imgs["image_id"].iloc[j]),
                        round(float(px[j]), 6), round(float(py[j]), 6),
                        max(0, x0r), min(w, x0r + SIZE),
                        max(0, y0r), min(h, y0r + SIZE)))
    return sorted(out)


def _payload(imgs_df, fmts=("raw", "z", "dct")):
    """``imgs_df`` plus fmt (cycling ``fmts`` by image id) and the encoded
    synthetic pixels of each image."""
    def gen(batches):
        for b in batches:
            f = [fmts[int(i) % len(fmts)] for i in b["image_id"]]
            b = b.copy()
            b["fmt"] = f
            b["bytes"] = [imaging.encode(
                imaging.synth_image(int(i), int(w), int(h)), fm)
                for i, w, h, fm in zip(b["image_id"], b["w"], b["h"], f)]
            yield b

    schema = imgs_df.schema.simpleString()[len("struct<"):-1].replace(":", " ")
    return imgs_df.mapInPandas(gen, schema + ", fmt string, bytes binary")


def test_windows_match_brute_force(spark):
    imgs_df, tgts_df, imgs, tgts = _mk_tables(spark)
    got = cutout_windows(tgts_df, imgs_df, SCALE, SIZE).collect()
    got_s = sorted((r.target_id, r.image_id, r.px, r.py,
                    r.x0, r.x1, r.y0, r.y1) for r in got)
    assert got_s == _brute_windows(imgs, tgts)
    # complete flag consistency
    for r in got:
        assert r.complete == ((r.x1 - r.x0 == SIZE)
                              and (r.y1 - r.y0 == SIZE))


def test_windows_cell_column_path_identical(spark):
    """Supplying the ingest-time cell column (the JVM ring-map path)
    returns the identical pair set as the UDF-keyed path."""
    from spatialindex_spark.functions.udfs import hpx_udf

    imgs_df, tgts_df, *_ = _mk_tables(spark, seed=11)
    with_cell = imgs_df.withColumn("hpx7", hpx_udf(7)("ra", "dec"))
    a = sorted((r.target_id, r.image_id)
               for r in cutout_windows(tgts_df, imgs_df, SCALE, SIZE)
               .collect())
    b = sorted((r.target_id, r.image_id)
               for r in cutout_windows(tgts_df, with_cell, SCALE, SIZE,
                                       cell_col="hpx7", cell_level=7)
               .collect())
    assert a == b and len(a) > 0


def test_window_plan_excludes_bytes(spark, tmp_path):
    """The window stage is metadata-only: the parquet ReadSchema must
    not contain the image bytes column."""
    imgs_df, tgts_df, *_ = _mk_tables(spark, n_img=30, n_tgt=20)
    payload = imgs_df.withColumn("bytes", F.lit(b"\x00" * 64))
    p = str(tmp_path / "imgs")
    payload.write.mode("overwrite").parquet(p)
    imgs2 = spark.read.parquet(p)
    plan = (cutout_windows(tgts_df, imgs2, SCALE, SIZE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "bytes" not in plan


def test_cutout_pixels_match_numpy_slice(spark):
    imgs_df, tgts_df, imgs, _ = _mk_tables(spark, n_img=40, n_tgt=60,
                                           seed=3)

    payload = _payload(imgs_df)
    wins = cutout_windows(tgts_df, imgs_df, SCALE, SIZE)
    cuts = cutout_pixels(payload, wins).collect()
    assert len(cuts) == wins.count() and len(cuts) > 0
    meta = {int(r.image_id): r for r in imgs.itertuples(index=False)}
    for r in cuts:
        m = meta[r.image_id]
        fmt = ("raw", "z", "dct")[r.image_id % 3]
        img = imaging.decode(
            imaging.encode(imaging.synth_image(r.image_id, int(m.w),
                                               int(m.h)), fmt),
            int(m.w), int(m.h), fmt)
        ref = img[r.y0:r.y1, r.x0:r.x1]
        assert (r.cut_h, r.cut_w) == ref.shape[:2]
        assert np.frombuffer(r.data, dtype=np.uint8).reshape(
            ref.shape) .tobytes() == ref.astype(np.uint8).tobytes()
        assert r.mean_val == pytest.approx(float(ref.mean()))


def _np_coadd(imgs: pd.DataFrame, blobs: dict, level: int, tile_px: int,
              scale_deg_px: float):
    """Straight numpy reference of the mosaic, independent of Spark."""
    tile_rad = max_pix_rad(level)
    tile_scale = 2.0 * tile_rad / tile_px
    npix = 12 << (2 * level)
    pix = np.arange(npix, dtype=np.int64)
    x, y, z = pix2vec(level, pix)
    tra = np.degrees(np.arctan2(y, x)) % 360.0
    tdec = np.degrees(np.arcsin(np.clip(z, -1.0, 1.0)))
    from spatialindex_spark.operators.cutouts import tile_grid_radec

    out = {}
    for tile in range(npix):
        # shared scalar-libm grid helper (the grid's independent gate is
        # the DuckDB oracle, which replays it from scratch in SQL)
        gra, gdec = tile_grid_radec(float(tra[tile]), float(tdec[tile]),
                                    tile_px, tile_scale)
        acc = np.zeros((tile_px, tile_px, 3))
        cnt = np.zeros((tile_px, tile_px), dtype=np.int64)
        used = 0
        for r in imgs.itertuples(index=False):
            px, py, ok = tan_pix_np(gra, gdec, r.ra, r.dec,
                                    int(r.w), int(r.h), scale_deg_px)
            ix, iy = np.floor(px).astype(int), np.floor(py).astype(int)
            m = ok & (ix >= 0) & (ix < int(r.w)) & (iy >= 0) \
                & (iy < int(r.h))
            if not m.any():
                continue
            img = blobs[int(r.image_id)]
            acc[m] += img[iy[m], ix[m]]
            cnt[m] += 1
            used += 1
        if used:
            mean = np.where((cnt > 0)[:, :, None],
                            acc / np.maximum(cnt, 1)[:, :, None], 0.0)
            out[tile] = (used, int((cnt > 0).sum()),
                         round(float(mean.sum()), 3),
                         np.rint(mean).astype(np.uint8).tobytes())
    return out


def test_mosaic_matches_numpy_reference(spark):
    level, tile_px = 1, 8
    imgs_df, _, imgs, _ = _mk_tables(spark, n_img=50, n_tgt=2, seed=5)
    blobs = {}

    def gen(batches):
        for b in batches:
            b = b.copy()
            fmts = [("raw", "z", "dct")[int(i) % 3] for i in b["image_id"]]
            b["fmt"] = fmts
            b["bytes"] = [imaging.encode(
                imaging.synth_image(int(i), int(w), int(h)), f)
                for i, w, h, f in zip(b["image_id"], b["w"], b["h"], fmts)]
            yield b

    for r in imgs.itertuples(index=False):
        fmt = ("raw", "z", "dct")[int(r.image_id) % 3]
        blobs[int(r.image_id)] = imaging.decode(
            imaging.encode(imaging.synth_image(int(r.image_id), int(r.w),
                                               int(r.h)), fmt),
            int(r.w), int(r.h), fmt)

    payload = imgs_df.mapInPandas(
        gen, "image_id long, ra double, dec double, w int, h int, "
             "fmt string, bytes binary")
    got = {r.tile: (r.n_images, r.covered_px, r.checksum, bytes(r.data))
           for r in coadd_mosaic(payload, level, tile_px, SCALE).collect()}
    ref = _np_coadd(imgs, blobs, level, tile_px, SCALE)
    assert got == ref


def test_mosaic_level_cap(spark):
    imgs_df, *_ = _mk_tables(spark, n_img=5, n_tgt=2)
    with pytest.raises(ValueError, match="capped"):
        coadd_mosaic(imgs_df, 9, 8, SCALE)


def test_mosaic_ring_overflow_raises_fast_at_fine_level(spark):
    """Huge images vs fine tile cells must hit the friendly 6-ring
    ValueError, and hit it FAST: the certified-reach upper bound must
    short-circuit _ring_reach_lb for doomed ring counts — at level 8
    the frontier path would otherwise materialize multi-GB disc tables
    on the driver just to reach the raise."""
    import time

    imgs_df, *_ = _mk_tables(spark, n_img=5, n_tgt=2)
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="exceed 6 rings"):
        coadd_mosaic(imgs_df, 8, 8, SCALE, max_dim_px=50_000)
    assert time.perf_counter() - t0 < 20.0  # no disc tables built


def test_empty_images_yield_empty_results_not_crash(spark):
    """An images frame filtered down to zero rows (a region with no
    coverage) must flow through to zero output rows — the undeclared
    max_dim_px scalar aggregate returns NULL there, which used to crash
    the ring sizing with a TypeError."""
    imgs_df, tgts_df, *_ = _mk_tables(spark, n_img=5, n_tgt=2)
    empty = imgs_df.filter(F.lit(False))
    assert coadd_mosaic(empty, 1, 8, SCALE).count() == 0
    assert cutout_windows(tgts_df, empty, SCALE, 8).count() == 0


def test_target_cell_range_pushdown_compact_targets(spark, tmp_path):
    """A COMPACT target set pushes its candidate-cell range superset
    into the parquet scan of the pixel read-back (PushedFilters on the
    ingest cell column) even when the matched-id count forces the
    semi-join path; fluxes are identical to the unpruned plan. A
    SCATTERED target set (ranges beyond CELL_RANGE_MAX) falls back to
    no pushdown instead of emitting a codegen-breaking Or tree."""
    import numpy as np
    import pandas as pd

    import spatialindex_spark.operators.cutouts as C
    from spatialindex_spark.operators.detect import forced_photometry
    from spatialindex_spark.plans import cluster_by_cell
    from spatialindex_spark.sources.images import synth_images_indexed

    p = str(tmp_path / "imgs")
    cluster_by_cell(
        synth_images_indexed(spark, 1500, level=7, systems=("htm", "hpx")),
        "hpx7", num_partitions=4).write.parquet(p)
    imgs = spark.read.parquet(p)
    # compact field: targets jittered around a handful of neighbor images
    base = imgs.orderBy("hpx7").limit(6).select("ra", "dec").collect()
    tgts = spark.createDataFrame(pd.DataFrame({
        "target_id": np.arange(len(base), dtype=np.int64),
        "ra": [r["ra"] + 0.001 for r in base],
        "dec": [r["dec"] + 0.001 for r in base]}))

    pred = C.target_cell_ranges(tgts, 0.5, "hpx7", 7)
    assert pred is not None

    # targets that already carry the ingest cell column take the JVM
    # shiftright path (no Arrow roundtrip) — identical predicate
    from spatialindex_spark.functions.udfs import hpx_udf
    tgts_c = tgts.withColumn("hpx7", hpx_udf(7)("ra", "dec"))
    pred_c = C.target_cell_ranges(tgts_c, 0.5, "hpx7", 7)
    assert pred_c is not None and str(pred_c) == str(pred)

    def snap(df):
        return sorted((r.target_id, r.image_id, r.flux) for r in df.collect())

    out = forced_photometry(tgts, imgs, SCALE, 2, max_dim_px=64,
                            cell_col="hpx7", cell_level=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PushedFilters: [")
    assert i >= 0 and "hpx7" in plan[i:i + 300], plan[i:i + 400]
    base_rows = snap(forced_photometry(tgts, imgs, SCALE, 2,
                                       max_dim_px=64))
    assert snap(out) == base_rows and len(base_rows) > 0

    # scattered targets: too many disjoint ranges -> give up, not a
    # thousand-term Or tree
    scat = spark.createDataFrame(pd.DataFrame({
        "target_id": np.arange(500, dtype=np.int64),
        "ra": (np.arange(500) * 137.511) % 360.0,
        "dec": np.degrees(np.arcsin(
            np.clip(((np.arange(500) * 0.381966) % 1) * 2 - 1,
                    -0.99, 0.99)))}))
    assert C.target_cell_ranges(scat, 0.5, "hpx7", 7) is None


def test_stream_cutout_matches_batch(spark, tmp_path):
    """Streaming cutout across two micro-batches returns exactly the
    batch cutout_windows rows for the same images, and the in-plan
    max_dim_px guard trips on an oversize image."""
    from spatialindex_spark.functions.udfs import hpx_udf
    from spatialindex_spark.streaming.ingest import stream_cutout

    imgs_df, tgts_df, imgs, _ = _mk_tables(spark, n_img=50, n_tgt=80,
                                           seed=19)
    src = str(tmp_path / "imgs_stream")
    pdf = imgs.copy()
    half = len(pdf) // 2
    schema = "image_id long, ra double, dec double, w int, h int"
    for part in (pdf.iloc[:half], pdf.iloc[half:]):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema).parquet(src)
              .withColumn("hpx7", hpx_udf(7)("ra", "dec")))
    out = stream_cutout(stream, tgts_df, SCALE, SIZE, max_dim_px=64)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("cut_stream").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0, r.y1,
            r.complete)
           for r in spark.sql("SELECT * FROM cut_stream").collect()}
    want = {(r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0, r.y1,
             r.complete)
            for r in cutout_windows(tgts_df, imgs_df, SCALE, SIZE,
                                    max_dim_px=64).collect()}
    assert got == want and len(got) > 0

    # oversize image trips the in-plan guard (declared bound 16 < real 64)
    bad = stream_cutout(
        spark.readStream.schema(schema).parquet(src)
        .withColumn("hpx7", hpx_udf(7)("ra", "dec")),
        tgts_df, SCALE, SIZE, max_dim_px=16)
    qb = (bad.writeStream.outputMode("append").format("memory")
          .queryName("cut_bad").trigger(availableNow=True).start())
    with pytest.raises(Exception, match="max_dim_px"):
        qb.awaitTermination(120)
        if qb.exception() is not None:
            raise qb.exception()


def test_mosaic_salted_path_bit_identical(spark):
    """Forcing the hot-tile salted two-stage coadd (skew_threshold=1)
    returns byte-identical tiles to the single-stage path — uint8 pixel
    sums are integer-exact in float64, so partial-merge order cannot
    change the mean."""
    imgs_df, _, imgs, _ = _mk_tables(spark, n_img=40, n_tgt=2, seed=23)

    def gen(batches):
        for b in batches:
            b = b.copy()
            fmts = [("raw", "z", "dct")[int(i) % 3] for i in b["image_id"]]
            b["fmt"] = fmts
            b["bytes"] = [imaging.encode(
                imaging.synth_image(int(i), int(w), int(h)), f)
                for i, w, h, f in zip(b["image_id"], b["w"], b["h"], fmts)]
            yield b

    payload = imgs_df.mapInPandas(
        gen, "image_id long, ra double, dec double, w int, h int, "
             "fmt string, bytes binary").localCheckpoint(eager=True)
    plain = {r.tile: (r.n_images, r.covered_px, r.checksum, bytes(r.data))
             for r in coadd_mosaic(payload, 1, 8, SCALE,
                                   skew_threshold=10**9).collect()}
    salted = {r.tile: (r.n_images, r.covered_px, r.checksum, bytes(r.data))
              for r in coadd_mosaic(payload, 1, 8, SCALE,
                                    skew_threshold=1, n_salts=4).collect()}
    assert plain == salted and len(plain) > 0


def _np_pyramid_step(children: dict, cl: int, tile_px: int):
    """Numpy twin of one mosaic_pyramid rollup step: children is
    {tile: (n_images, data_bytes, mask_bytes)} at level cl; returns the
    same mapping at level cl - 1."""
    from spatialindex_spark.operators.cutouts import tile_grid_radec

    pl = cl - 1
    c_scale_deg = math.degrees(2.0 * max_pix_rad(cl) / tile_px)
    p_scale = 2.0 * max_pix_rad(pl) / tile_px

    def center(level, tile):
        x, y, z = pix2vec(level, np.array([tile], dtype=np.int64))
        return (float(np.degrees(np.arctan2(y, x)) % 360.0),
                float(np.degrees(np.arcsin(np.clip(z, -1, 1)))))

    parents = sorted({t >> 2 for t in children})
    out = {}
    for pt in parents:
        pra, pdec = center(pl, pt)
        gra, gdec = tile_grid_radec(pra, pdec, tile_px, p_scale)
        ssum = np.zeros((tile_px, tile_px, 3))
        cnt = np.zeros((tile_px, tile_px), dtype=np.int64)
        used = 0
        for ct in sorted(t for t in children if t >> 2 == pt):
            n_img, data, mask = children[ct]
            img = np.frombuffer(data, dtype=np.uint8).reshape(
                tile_px, tile_px, 3)
            msk = np.frombuffer(mask, dtype=np.uint8).reshape(
                tile_px, tile_px).astype(bool)
            cra, cdec = center(cl, ct)
            px, py, ok = tan_pix_np(gra, gdec, cra, cdec, tile_px,
                                    tile_px, c_scale_deg)
            ix, iy = np.floor(px).astype(int), np.floor(py).astype(int)
            m = (ok & (ix >= 0) & (ix < tile_px)
                 & (iy >= 0) & (iy < tile_px))
            mm = np.zeros_like(m)
            mm[m] = msk[iy[m], ix[m]]
            if not mm.any():
                continue
            ssum[mm] += img[iy[mm], ix[mm]]
            cnt[mm] += 1
            used += n_img
        if used:
            mean = np.where((cnt > 0)[:, :, None],
                            ssum / np.maximum(cnt, 1)[:, :, None], 0.0)
            out[pt] = (used,
                       np.rint(mean).astype(np.uint8).tobytes(),
                       (cnt > 0).astype(np.uint8).tobytes(),
                       int((cnt > 0).sum()),
                       round(float(mean.sum()), 3))
    return out


def test_mosaic_pyramid_matches_numpy(spark):
    """HiPS-style rollup: levels base-1..0 are bit-identical to a numpy
    replay from the collected base tiles; the base level passes through
    unchanged; pyramid requires the coverage mask."""
    from spatialindex_spark.operators.cutouts import mosaic_pyramid

    level, tile_px = 2, 8
    imgs_df, _, imgs, _ = _mk_tables(spark, n_img=80, n_tgt=2, seed=11)

    def gen(batches):
        for b in batches:
            b = b.copy()
            fmts = [("raw", "z", "dct")[int(i) % 3] for i in b["image_id"]]
            b["fmt"] = fmts
            b["bytes"] = [imaging.encode(
                imaging.synth_image(int(i), int(w), int(h)), f)
                for i, w, h, f in zip(b["image_id"], b["w"], b["h"], fmts)]
            yield b

    payload = imgs_df.mapInPandas(
        gen, "image_id long, ra double, dec double, w int, h int, "
             "fmt string, bytes binary")
    tiles = coadd_mosaic(payload, level, tile_px, SCALE,
                         with_mask=True).localCheckpoint(eager=True)
    base = {r.tile: (int(r.n_images), bytes(r.data), bytes(r.mask))
            for r in tiles.collect()}
    assert base, "fixture produced no tiles"

    pyr = mosaic_pyramid(tiles, level, tile_px, min_level=0)
    got = {}
    for r in pyr.collect():
        got.setdefault(r.level, {})[r.tile] = (
            int(r.n_images), bytes(r.data), bytes(r.mask),
            int(r.covered_px), float(r.checksum))

    # base level passes through
    assert set(got[level]) == set(base)
    for t, (n, d, m) in base.items():
        assert got[level][t][:3] == (n, d, m)

    # each rollup step bit-identical to the numpy twin
    cur = base
    for cl in range(level, 0, -1):
        ref = _np_pyramid_step(cur, cl, tile_px)
        lvl_got = got.get(cl - 1, {})
        assert set(lvl_got) == set(ref)
        for t, (n, d, m, cov, chk) in ref.items():
            assert lvl_got[t] == (n, d, m, cov, chk), f"level {cl-1} tile {t}"
        cur = {t: (v[0], v[1], v[2]) for t, v in ref.items()}

    # mask is mandatory
    with pytest.raises(ValueError, match="mask"):
        mosaic_pyramid(tiles.drop("mask"), level, tile_px)


def test_ring_reach_certificate():
    """The mosaic candidate-ring certificate: ring-1 is provably NOT
    sufficient for the grid's sqrt(2)*tile_rad bounding-disc span (the
    corner-truncation bug the DuckDB oracle caught at level 2), ring
    reach grows with k, and the adaptive pick covers the requirement."""
    from spatialindex_spark.operators.cutouts import _ring_reach_lb

    for lvl in (1, 2, 3):
        need = (1.0 + math.sqrt(2.0)) * max_pix_rad(lvl)
        r1 = _ring_reach_lb(lvl, 1)
        r2 = _ring_reach_lb(lvl, 2)
        r3 = _ring_reach_lb(lvl, 3)
        assert 0.0 < r1 < r2 < r3
        assert r1 <= need          # ring-1 can truncate a contributor
        assert r3 > need           # a bounded k always suffices


def test_mosaic_includes_corner_ring_contributor(spark):
    """Regression for the ring-1 truncation: an image in a cell that is
    NOT ring-1-adjacent to a tile but whose footprint still samples the
    tile's bounding-disc grid must contribute (tile 26 / image cell 28
    at level 2 in the sf0.001 fixture reproduced this exactly)."""
    from spatialindex_spark.operators.cutouts import (
        _ring_reach_lb, coadd_mosaic, tile_grid_radec)
    from spatialindex_spark.functions.healpix import neighbors

    level, tile_px, scale = 2, 16, 0.05
    # a sky position inside cell 28 whose 16x64 footprint reaches one
    # grid pixel of tile 26 (from the oracle-caught case)
    imgs = pd.DataFrame({"image_id": [1365], "ra": [123.616054],
                         "dec": [54.057928], "w": [16], "h": [64]})
    nb = set(neighbors(level, np.array([28], dtype=np.int64))[0]) | {28}
    assert 26 not in nb

    def gen(batches):
        for b in batches:
            b = b.copy()
            b["fmt"] = "raw"
            b["bytes"] = [imaging.encode(
                imaging.synth_image_photometric(int(i), int(w), int(h)),
                "raw") for i, w, h in zip(b["image_id"], b["w"], b["h"])]
            yield b

    payload = spark.createDataFrame(imgs).mapInPandas(
        gen, "image_id long, ra double, dec double, w int, h int, "
             "fmt string, bytes binary")
    out = {r.tile for r in coadd_mosaic(payload, level, tile_px, scale,
                                        max_dim_px=64).collect()}
    assert 26 in out


def test_pixel_readback_semijoin_above_inset_cap(spark, monkeypatch):
    """Above IN_SET_MAX matched ids the read-back must switch to a
    broadcast left-semi join (constant-size plan — no 100k-literal
    IN-list) and return the IN-set branch's rows, row for row; the
    max_images guard still raises loudly on both paths. Inputs: the
    checkpointed windows, and the lazy windows plan with a duplicate
    target id."""
    import spatialindex_spark.operators.cutouts as C

    imgs_df, tgts_df, imgs, _ = _mk_tables(spark, n_img=40, n_tgt=60,
                                           seed=3)
    payload = _payload(imgs_df, ("raw",)).localCheckpoint(eager=True)
    wins = cutout_windows(tgts_df, imgs_df, SCALE, SIZE) \
        .localCheckpoint(eager=True)
    assert wins.select("image_id").distinct().count() > 3
    dup = tgts_df.unionByName(tgts_df.limit(5).withColumn(
        "ra", (F.col("ra") + 0.05) % 360.0))
    lazy = cutout_windows(dup, imgs_df, SCALE, SIZE)

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    for w in (wins, lazy):
        monkeypatch.setattr(C, "IN_SET_MAX", 20_000)
        inset = cutout_pixels(payload, w)
        plan = inset._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" not in plan
        base = snap(inset)
        monkeypatch.setattr(C, "IN_SET_MAX", 2)
        out = cutout_pixels(payload, w)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        assert snap(out) == base and len(base) == w.count() > 0

        with pytest.raises(ValueError, match="matched >"):
            cutout_pixels(payload, w, max_images=3)


def _indexed_payload(spark, tmp_path, imgs_df):
    """``imgs_df`` with its hpx7 ingest cell and raw pixels, as parquet."""
    from spatialindex_spark.functions.udfs import hpx_udf

    p = str(tmp_path / "imgs_indexed")
    _payload(imgs_df.withColumn("hpx7", hpx_udf(7)("ra", "dec")),
             ("raw",)).write.parquet(p)
    return spark.read.parquet(p)


def test_cutout_request_plan_shape(spark, tmp_path, monkeypatch):
    """A cutout request is two Spark passes: the pairing keys the targets
    with ONE Arrow UDF (their ring-1 discs) and never builds or joins the
    ring map, and the IN-set read-back is one scan-and-decode pass, with
    the IN-set pushed into the scan and no broadcast."""
    import spatialindex_spark.operators.joins as J

    monkeypatch.setattr(J, "_RING1_MAP_CACHE", {})
    imgs_df, tgts_df, imgs, tgts = _mk_tables(spark, n_img=60, n_tgt=40)
    indexed = _indexed_payload(spark, tmp_path, imgs_df)
    wins = cutout_windows(tgts_df, indexed.drop("bytes", "fmt"), SCALE,
                          SIZE, max_dim_px=64, cell_col="hpx7",
                          cell_level=7)
    plan = wins._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "_pix" not in plan and "bytes" not in plan
    got = sorted((r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0,
                  r.y1) for r in wins.collect())
    assert got == _brute_windows(imgs, tgts) and got

    out = cutout_pixels(indexed, wins)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    i = plan.find("PushedFilters: [")
    assert "In(image_id" in plan[i:i + 400], plan[i:i + 400]
    assert out.count() == len(got)
    assert J._RING1_MAP_CACHE == {}


def test_cutout_null_and_nan_targets_get_no_windows(spark):
    """A target with a null, NaN or infinite ra/dec gets no windows (its
    UDF key list is null, so it explodes to nothing); the valid targets of
    the same frame keep theirs."""
    imgs_df, _, imgs, tgts = _mk_tables(spark, n_img=40, n_tgt=20, seed=5)
    nan, inf = float("nan"), float("inf")
    bad = [(100, None, 10.0), (101, 10.0, None), (102, nan, 1.0),
           (103, 1.0, nan), (104, inf, 1.0), (105, None, None)]
    rows = [(int(t.target_id), float(t.ra), float(t.dec))
            for t in tgts.itertuples(index=False)] + bad
    tdf = spark.createDataFrame(rows, "target_id long, ra double, dec double")
    for kw in ({}, {"cell_col": "hpx7", "cell_level": 7}):
        idf = imgs_df
        if kw:
            from spatialindex_spark.functions.udfs import hpx_udf
            idf = imgs_df.withColumn("hpx7", hpx_udf(7)("ra", "dec"))
        got = sorted((r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0,
                      r.y1) for r in cutout_windows(tdf, idf, SCALE, SIZE,
                                                    **kw).collect())
        assert got == _brute_windows(imgs, tgts) and got


def test_cutout_pole_and_ra_wrap_targets_match_brute_force(spark):
    """Targets at dec = +-90 and on both sides of RA 0/360 (360 itself
    included) get the windows of the tan_pix_np brute force, on the UDF-
    and the cell-keyed image side."""
    from spatialindex_spark.functions.udfs import hpx_udf

    imgs = pd.DataFrame({
        "image_id": np.arange(8, dtype=np.int64),
        "ra": [0.0, 120.0, 240.0, 45.0, 0.2, 359.8, 0.0, 180.0],
        "dec": [89.7, 89.9, -89.8, -89.5, 10.0, 10.0, -30.0, 0.3],
        "w": np.array([64, 64, 64, 64, 64, 64, 32, 64], dtype=np.int32),
        "h": np.array([64, 32, 64, 64, 64, 64, 32, 64], dtype=np.int32)})
    tgts = pd.DataFrame({
        "target_id": np.arange(9, dtype=np.int64),
        "ra": [0.0, 77.0, 0.0, 300.0, 0.0, 360.0, 359.99, 0.01, 180.0],
        "dec": [90.0, 90.0, -90.0, -90.0, 10.0, 10.0, 10.1, -30.05, 0.0]})
    want = _brute_windows(imgs, tgts)
    assert {t for t, *_ in want} >= {0, 1, 2, 3, 4, 5, 6, 7, 8}
    imgs_df = spark.createDataFrame(imgs)
    tdf = spark.createDataFrame(tgts)
    for idf, kw in ((imgs_df, {}),
                    (imgs_df.withColumn("hpx7", hpx_udf(7)("ra", "dec")),
                     {"cell_col": "hpx7", "cell_level": 7})):
        got = sorted((r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0,
                      r.y1) for r in cutout_windows(tdf, idf, SCALE, SIZE,
                                                    **kw).collect())
        assert got == want


def test_cutout_duplicate_target_ids_each_get_windows(spark):
    """Two targets sharing an id each get their own windows, and the
    pixel read-back cuts every one of them."""
    imgs_df, _, imgs, tgts = _mk_tables(spark, n_img=40, n_tgt=30, seed=9)
    dup = tgts.copy()
    dup["ra"] = (dup["ra"] + 0.03) % 360.0
    both = pd.concat([tgts, dup], ignore_index=True)
    wins = cutout_windows(spark.createDataFrame(both), imgs_df, SCALE, SIZE)
    got = sorted((r.target_id, r.image_id, r.px, r.py, r.x0, r.x1, r.y0,
                  r.y1) for r in wins.collect())
    want = _brute_windows(imgs, both)
    assert got == want
    assert len(want) > len(_brute_windows(imgs, tgts)) > 0
    cuts = sorted((r.target_id, r.image_id, r.x0, r.x1, r.y0, r.y1)
                  for r in cutout_pixels(_payload(imgs_df), wins).collect())
    assert cuts == sorted((t, i, x0, x1, y0, y1)
                          for t, i, _, _, x0, x1, y0, y1 in want)


def test_cutout_empty_targets_skip_readback_scan(spark, tmp_path):
    """An empty target frame gives zero windows and zero pixel rows, and
    the read-back plans no scan of the image table."""
    imgs_df, *_ = _mk_tables(spark, n_img=20, n_tgt=2)
    indexed = _indexed_payload(spark, tmp_path, imgs_df)
    none = spark.createDataFrame([], "target_id long, ra double, dec double")
    wins = cutout_windows(none, indexed.drop("bytes", "fmt"), SCALE, SIZE,
                          max_dim_px=64, cell_col="hpx7", cell_level=7)
    assert wins.count() == 0
    out = cutout_pixels(indexed, wins)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert out.collect() == []


def _reference_decode(data, w, h, fmt):
    """Full-image decode, written independently of decode_windows: the
    whole payload dequantized and inverse-transformed at once, blocks
    reassembled in raster order and cropped to (h, w)."""
    import zlib

    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "z":
        return np.frombuffer(zlib.decompress(data),
                             dtype=np.uint8).reshape(h, w, 3)
    H, W = h + ((-h) % 8), w + ((-w) % 8)
    q = np.frombuffer(zlib.decompress(data), dtype="<i2").astype(np.float64)
    q = q.reshape(3, (H // 8) * (W // 8), 8, 8)
    d8 = imaging._D8
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c in range(3):
        blocks = d8.T @ (q[c] * imaging._Q) @ d8
        img = blocks.reshape(H // 8, W // 8, 8, 8).transpose(0, 2, 1, 3) \
            .reshape(H, W)[:h, :w] + 128.0
        out[:, :, c] = np.clip(np.rint(img), 0, 255).astype(np.uint8)
    return out


def test_decode_windows_matches_full_decode_crops():
    """decode_windows must be bit-identical to crops of an independent
    full-image decode for every codec, single- and all-channel, including
    empty windows; decode (its full-image window) returns a writable copy."""
    rng = np.random.default_rng(77)
    for fmt in ("raw", "z", "dct"):
        for w, h in ((16, 16), (32, 24), (64, 64), (37, 21)):
            img = imaging.synth_image(int(rng.integers(0, 1000)), w, h)
            data = imaging.encode(img, fmt)
            wins = []
            for _ in range(6):
                x0 = int(rng.integers(0, w - 1))
                y0 = int(rng.integers(0, h - 1))
                x1 = int(rng.integers(x0 + 1, w + 1))
                y1 = int(rng.integers(y0 + 1, h + 1))
                wins.append((x0, x1, y0, y1))
            wins.append((3, 3, 0, 5))  # empty window
            full = _reference_decode(data, w, h, fmt)
            dec = imaging.decode(data, w, h, fmt)
            assert np.array_equal(dec, full) and dec.flags.writeable
            for ch in (0, 2, None):
                batch = imaging.decode_windows(data, w, h, fmt, wins, ch)
                for (x0, x1, y0, y1), got in zip(wins, batch):
                    ref = full[y0:y1, x0:x1, slice(None) if ch is None
                               else ch]
                    assert got.shape == ref.shape
                    assert np.array_equal(got, ref), (fmt, x0, y0, ch)
