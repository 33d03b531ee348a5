"""Operator-level tests: exact neighbor completeness, join/kNN correctness
vs brute force, dedup invariants, codecs, Iceberg-lite resume."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatialindex_spark.functions.healpix import hpx_id, neighbors
from spatialindex_spark.sources import imaging


def test_neighbors_complete_vs_dense_sampling():
    """Every geometrically adjacent pixel pair must appear in neighbors()."""
    for order in (1, 2, 3):
        nside = 1 << order
        npix = 12 * nside * nside
        n = 400_000
        rng = np.random.default_rng(0)
        ra = rng.uniform(0, 360, n)
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        pix = hpx_id(order, ra, dec)
        eps = 60.0 / nside * 0.05
        adj = [set() for _ in range(npix)]
        for dra, ddec in ((eps, 0), (0, eps), (eps, eps), (-eps, eps)):
            ra2 = (ra + dra / np.maximum(np.cos(np.radians(dec)), 1e-9)) % 360
            dec2 = np.clip(dec + ddec, -90, 90)
            p2 = hpx_id(order, ra2, dec2)
            d = p2 != pix
            for a, b in zip(pix[d], p2[d]):
                adj[a].add(int(b))
                adj[b].add(int(a))
        nb = neighbors(order, np.arange(npix))
        for p in range(npix):
            got = set(int(x) for x in nb[p] if x >= 0)
            assert adj[p] <= got, f"order {order} pix {p}: missing {adj[p]-got}"


def _closure(adj, p, rings):
    """Brute-force ring-``rings`` disc of one pixel: breadth-first
    expansion over the adjacency lookup ``adj`` (pixel -> neighbors)."""
    seen, frontier = {p}, {p}
    for _ in range(rings):
        frontier = {q for f in frontier for q in adj(f)} - seen
        seen |= frontier
    return seen


def test_disc_matches_neighbor_closure():
    """healpix.disc / disc_lists equal the brute-force closure of
    neighbors(): every pixel at orders <= 4 for 1-3 rings, random pixels
    (plus face corners) at orders 8, 12 and 20 for 1-2 rings. Lists are
    sorted and duplicate-free; table rows only repeat members."""
    from spatialindex_spark.functions.healpix import disc, disc_lists

    rng = np.random.default_rng(5)
    cases = [(o, np.arange(12 << (2 * o)), r)
             for o in range(5) for r in (1, 2, 3)]
    for o in (8, 12, 20):
        npface = 1 << (2 * o)
        corners = np.array([f * npface + c for f in range(12)
                            for c in (0, npface - 1)], dtype=np.int64)
        pix = np.concatenate([rng.integers(0, 12 * npface, 150), corners])
        cases += [(o, pix, r) for r in (1, 2)]
    for order, pix, rings in cases:
        if order <= 4:  # one neighbors() table for the whole sphere
            nb = neighbors(order, np.arange(12 << (2 * order))).tolist()
            adj = nb.__getitem__
        else:
            def adj(f, order=order):
                return neighbors(order, np.array([f]))[0].tolist()
        table = disc(order, pix, rings)
        lists = disc_lists(order, pix, rings)
        assert table.shape[0] == len(lists) == len(pix)
        for p, row, cells in zip(pix, table, lists):
            want = _closure(adj, int(p), rings)
            assert np.all(np.diff(cells) > 0), (order, p, rings)
            assert set(cells.tolist()) == want, (order, p, rings)
            assert np.all(np.diff(row) >= 0) and set(row.tolist()) == want


def test_disc_of_no_pixels_is_empty():
    from spatialindex_spark.functions.healpix import disc, disc_lists

    for rings in (0, 1, 2):
        assert disc(7, np.array([], dtype=np.int64), rings).shape[0] == 0
        assert disc_lists(7, [], rings) == []


def test_codecs_roundtrip_and_psnr():
    for i in (0, 5, 9):
        for w in (16, 32, 64):
            img = imaging.synth_image(i, w, w)
            for fmt in ("raw", "z"):
                assert (imaging.decode(imaging.encode(img, fmt), w, w, fmt) == img).all()
            dec = imaging.decode(imaging.encode(img, "dct"), w, w, "dct")
            assert imaging.psnr(img, dec) >= 40.0


def test_phash_similarity_property():
    a = imaging.synth_image(3, 32, 32)
    b = imaging.decode(imaging.encode(a, "dct"), 32, 32, "dct")  # near-dup
    c = imaging.synth_image(77, 32, 32)  # unrelated
    ha, hb, hc = (imaging.phash64(x) for x in (a, b, c))
    assert imaging.hamming64(ha, hb) <= 4
    assert imaging.hamming64(ha, hc) > imaging.hamming64(ha, hb)


@pytest.fixture(scope="module")
def small_images(spark):
    from spatialindex_spark.sources.images import synth_images_indexed

    return synth_images_indexed(spark, 1200, level=7, systems=("htm", "hpx")).cache()


def test_image_table_schema(small_images):
    fields = dict(small_images.dtypes)
    assert fields["image_id"] == "string"
    assert fields["bytes"] == "binary"
    assert fields["w"] == "int" and fields["h"] == "int"
    assert fields["fmt"] == "string"
    assert fields["caption"] == "string"
    assert fields["phash"] == "bigint"
    assert fields["spt_ind"] == "bigint"


def test_caption_byte_equality_roundtrip(spark, small_images, tmp_path):
    """Captions must survive write/read byte-identically (north rule)."""
    p = str(tmp_path / "imgs")
    small_images.write.parquet(p)
    back = spark.read.parquet(p)
    a = {r["image_id"]: r["caption"] for r in small_images.select("image_id", "caption").collect()}
    b = {r["image_id"]: r["caption"] for r in back.select("image_id", "caption").collect()}
    assert a == b


def test_decode_stats_distributed(small_images):
    from spatialindex_spark.operators.multimodal import decode_stats

    st = decode_stats(small_images.limit(120)).toPandas()
    assert len(st) == 120
    assert (st.psnr >= 40.0).all()  # raw/z are inf, dct >= 40
    # phash recomputed from decoded pixels must equal the stored phash
    stored = {r["image_id"]: r["phash"]
              for r in small_images.limit(120).select("image_id", "phash").collect()}
    for _, row in st.iterrows():
        assert stored[row.image_id] == row.phash_check


def test_region_join_matches_brute(spark, small_images):
    from spatialindex_spark.operators.joins import region_join

    regions = [
        {"region_id": 1, "kind": "cone", "ra": 129.4, "dec": 43.7, "radius": 4.0},
        {"region_id": 2, "kind": "poly", "ra": [30.0, 40.0, 40.0, 30.0],
         "dec": [40.0, 40.0, 50.0, 50.0]},
    ]
    got = region_join(small_images, regions, level=7) \
        .select("region_id", "image_id").toPandas()

    import math
    from spatialindex_spark.functions.geometry import RAD_PER_DEG, sc_to_v3
    from spatialindex_spark.functions.cover import polygon_normals

    pts = small_images.select("image_id", "x", "y", "z").toPandas()
    v = sc_to_v3(129.4, 43.7)
    cosr = math.cos(4.0 * RAD_PER_DEG)
    in1 = set(pts.image_id[(pts.x * v.x + pts.y * v.y + pts.z * v.z) >= cosr])
    normals = polygon_normals([30.0, 40.0, 40.0, 30.0], [40.0, 40.0, 50.0, 50.0])
    mask = np.ones(len(pts), dtype=bool)
    for n in normals:
        mask &= (pts.x * n.x + pts.y * n.y + pts.z * n.z) >= 0
    in2 = set(pts.image_id[mask])
    assert set(got.image_id[got.region_id == 1]) == in1
    assert set(got.image_id[got.region_id == 2]) == in2


def test_crossmatch_matches_brute(spark):
    rng = np.random.default_rng(11)
    n = 400
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    pdf = [(int(i), float(r), float(d)) for i, (r, d) in enumerate(zip(ra, dec))]
    df = spark.createDataFrame(pdf, "pid long, ra double, dec double")

    from spatialindex_spark.operators.joins import crossmatch

    got = crossmatch(df, df, 3.0).select("pid_l", "pid_r").toPandas()
    got_pairs = set(zip(got.pid_l, got.pid_r))

    from spatialindex_spark.functions.geometry import radec_to_xyz

    x, y, z = radec_to_xyz(ra, dec)
    dots = np.outer(x, x) + np.outer(y, y) + np.outer(z, z)
    import math
    want = set()
    cosr = math.cos(np.radians(3.0))
    ii, jj = np.where(dots >= cosr)
    for i, j in zip(ii, jj):
        want.add((int(i), int(j)))
    assert got_pairs == want


def test_knn_matches_brute(spark):
    rng = np.random.default_rng(13)
    n = 500
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    data = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in enumerate(zip(ra, dec))],
        "pid long, ra double, dec double")
    qs = [(1, 10.0, 10.0), (2, 200.0, -50.0), (3, 129.4, 43.7)]
    q = spark.createDataFrame(qs, "query_id long, ra double, dec double")

    from spatialindex_spark.operators.knn import knn

    got = knn(q, data, k=4, level=2, rings=1, tiebreak="pid") \
        .select("query_id", "pid", "knn_rank").toPandas()

    from spatialindex_spark.functions.geometry import radec_to_xyz

    x, y, z = radec_to_xyz(ra, dec)
    for qid, qra, qdec in qs:
        qx, qy, qz = radec_to_xyz(np.array([qra]), np.array([qdec]))
        d = np.arccos(np.clip(x * qx + y * qy + z * qz, -1, 1))
        order = np.lexsort((np.arange(n), d))[:4]
        mine = got[got.query_id == qid].sort_values("knn_rank").pid.tolist()
        assert mine == [int(i) for i in order]


def test_exact_dedup(spark):
    rows = [(1, "Hello  World"), (2, "hello world"), (3, "unique doc"),
            (4, "HELLO\tWORLD"), (5, "another one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from spatialindex_spark.operators.dedup import exact_dedup

    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3, 5]


def test_minhash_native_kernel_bit_exact():
    """The C signature kernel must be bit-identical to the numpy fallback
    (same mod-2^64 multiply-shift family): the SQL oracle replays the
    numpy math, so ANY divergence silently invalidates every minhash
    oracle. Covers empty docs, sub-k docs, multi-byte utf-8, and long
    docs."""
    import random

    from spatialindex_spark.functions import native
    from spatialindex_spark.operators.dedup import (_batch_signatures,
                                                    _minhash_params)

    if native.get_lib() is None:
        import pytest
        pytest.skip("no C compiler on host")

    random.seed(13)
    texts = ["", "ab", "abcd", "abcde", "é中文漢字" * 3]
    for _ in range(300):
        n = random.randint(0, 500)
        texts.append("".join(
            random.choice("abcdefgh 0123é中") for _ in range(n)))
    a, b = _minhash_params(64)
    sigs_c, valid = native.minhash_sig_native(texts, 5, a, b)
    _, sigs_np = _batch_signatures(texts, 64, 5, a, b)
    for i, s in enumerate(sigs_np):
        if s is None:
            assert not valid[i]
        else:
            assert valid[i]
            assert sigs_c[i].tolist() == s, f"doc {i} diverged"

    # simhash kernel: same rolling-hash family, UNIQUE shingle majority
    import numpy as np

    from spatialindex_spark.operators.dedup import _shingle_hashes

    sh_c, sh_valid = native.simhash_native(texts, 5)
    for i, t in enumerate(texts):
        s = _shingle_hashes(t, 5)
        if len(s) == 0:
            assert not sh_valid[i]
            continue
        assert sh_valid[i]
        want = 0
        for j in range(64):
            ones = int(((s >> np.uint64(j)) & np.uint64(1)).sum())
            if 2 * ones - len(s) > 0:
                want |= 1 << j
        want = want if want < (1 << 63) else want - (1 << 64)
        assert int(sh_c[i]) == want, f"doc {i} simhash diverged"


def test_minhash_dedup_drops_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(1, base), (2, base[:-10] + " tail tweak"), (3, "completely different content " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    kept = sorted(r.doc_id for r in minhash_lsh_dedup(df, threshold=0.7).collect())
    assert kept == [1, 3]


def test_ann_lsh_recall(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")

    from spatialindex_spark.operators.similarity import brute_force_topk, lsh_topk

    exact = brute_force_topk(q, df, k=3).toPandas()
    approx = lsh_topk(q, df, k=3, dim=16, bits=6, hamming_probe=2).toPandas()
    # top-1 self-match must always be found
    for qid in range(5):
        assert approx[(approx.query_id == qid) & (approx["rank"] == 1)].vec_id.iloc[0] == qid
    # recall@3 of LSH vs exact should be decent on random data
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        hits += len(e & a)
    assert hits >= 8  # >= 53% recall across 15 slots


def _crash_after_markers(monkeypatch, n):
    """Make the (n+1)-th bucket marker raise, as a driver crash in the
    claim loop would: that bucket, when it has rows, is already renamed
    into data/ but stays unmarked. ``monkeypatch.undo()`` restores the
    real marker write."""
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable

    real, marked = IcebergLiteTable._commit_bucket, []

    def crashing(self, row):
        if len(marked) >= n:
            raise RuntimeError("simulated crash in the claim loop")
        marked.append(row["bucket"])
        real(self, row)

    monkeypatch.setattr(IcebergLiteTable, "_commit_bucket", crashing)


def test_iceberg_resume(spark, tmp_path, monkeypatch):
    import os

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    _crash_after_markers(monkeypatch, 3)
    with pytest.raises(RuntimeError):
        t.write(df)
    monkeypatch.undo()
    assert 0 < len(t.committed_buckets()) < 8
    # the crash left a claimed-but-unmarked bucket for the resume to redo
    claimed = {int(d.split("=")[1]) for d in os.listdir(t.data_dir)}
    assert claimed - set(t.committed_buckets())
    snap = t.write(df)
    assert snap["total_rows"] == 600
    assert len(snap["buckets"]) == 8
    # resumed table content equals a one-shot write
    back = t.read(spark)
    assert back.count() == 600
    assert back.select("image_id").distinct().count() == 600


def test_region_join_auto_level(spark, small_images):
    """level=None sizes the covering PER REGION (tiny -> deep/tight,
    huge -> coarse/bounded), rescales ranges into the deep cell column's
    id space, and returns exactly the fixed-level result."""
    from spatialindex_spark.functions.udfs import htm_udf
    from spatialindex_spark.operators.joins import (auto_covering_level,
                                                    region_join)

    regions = [
        {"region_id": 1, "kind": "cone", "ra": 129.4, "dec": 43.7,
         "radius": 0.3},
        {"region_id": 2, "kind": "cone", "ra": 34.0, "dec": 45.0,
         "radius": 6.0},
        {"region_id": 3, "kind": "poly", "ra": [30.0, 40.0, 40.0, 30.0],
         "dec": [40.0, 40.0, 50.0, 50.0]},
        {"region_id": 4, "kind": "ellipse", "ra": 129.4, "dec": 43.7,
         "a": 2.0, "b": 1.0, "angle": 30.0},
    ]
    # the tiny cone must get a deeper covering than the 6-degree one
    lt = auto_covering_level(regions[0], 14)
    lb = auto_covering_level(regions[1], 14)
    assert lt > lb
    assert auto_covering_level({"kind": "cone", "ra": 0, "dec": 0,
                                "radius": 0.001}, 14) == 14  # capped

    pts14 = small_images.withColumn("spt14", htm_udf(14)("x", "y", "z"))
    got_auto = {(r.region_id, r.image_id) for r in
                region_join(pts14, regions, level=None, col_level=14,
                            cell_col="spt14")
                .select("region_id", "image_id").collect()}
    got_fixed = {(r.region_id, r.image_id) for r in
                 region_join(small_images, regions, level=7)
                 .select("region_id", "image_id").collect()}
    assert got_auto == got_fixed
    assert got_auto  # non-trivial

    import pytest

    with pytest.raises(ValueError, match="col_level"):
        region_join(pts14, regions, level=None, cell_col="spt14")


def test_knn_join_big_query_side(spark, small_images):
    """J4 at table scale (r3 verdict item #3): k nearest neighbors for
    EVERY row, both sides big. Cell path == non-cell path == brute force
    (self-kNN with exclude_self), and the starved tail raises unless
    on_starved='exact'."""
    import numpy as np

    from spatialindex_spark.operators.knn import knn_join

    img = small_images.select("image_id", "ra", "dec", "hpx7") \
        .localCheckpoint(eager=True)

    got_cell = {(r.image_id_l, r.knn_rank): r.image_id_r for r in
                knn_join(img, img, k=3, level=4,
                         left_id="image_id", right_id="image_id",
                         cell_col="hpx7", cell_level=7,
                         exclude_self=True, on_starved="exact").collect()}
    got_udf = {(r.image_id_l, r.knn_rank): r.image_id_r for r in
               knn_join(img, img, k=3, level=4,
                        left_id="image_id", right_id="image_id",
                        exclude_self=True, on_starved="exact").collect()}
    assert got_cell == got_udf

    rows = img.collect()
    ids = [r.image_id for r in rows]
    ra = np.radians(np.array([r.ra for r in rows]))
    dec = np.radians(np.array([r.dec for r in rows]))
    x = np.cos(ra) * np.cos(dec)
    y = np.sin(ra) * np.cos(dec)
    z = np.sin(dec)
    dots = np.clip(np.outer(x, x) + np.outer(y, y) + np.outer(z, z), -1, 1)
    dist = np.degrees(np.arccos(dots))
    n_checked = 0
    for i in range(0, len(ids), 7):
        order = sorted((float(dist[i, j]), ids[j])
                       for j in range(len(ids)) if ids[j] != ids[i])
        for rk in range(1, 4):
            assert got_cell[(ids[i], rk)] == order[rk - 1][1]
            n_checked += 1
    assert n_checked > 100

    # every left row got exactly k neighbors (total result)
    assert len(got_cell) == 3 * len(ids)

    # sparse right side at fine-only levels: starved rows must raise
    import pytest

    tiny = img.filter(F.abs(F.xxhash64("image_id")) % 97 == 0)  # ~6 rows
    with pytest.raises(RuntimeError, match="starved"):
        knn_join(img, tiny, k=5, level=7, levels=(7, 6),
                 left_id="image_id", right_id="image_id",
                 cell_col="hpx7", cell_level=7).collect()


def test_knn_join_auto_levels(spark):
    """Density-adaptive knn_join (skew fix): a dense clump and a sparse
    field probe at DIFFERENT per-row levels, and the result is identical
    to the fixed-ladder path and to numpy brute force. Correctness must
    never depend on the level assignment — only the pair explosion does."""
    import numpy as np
    import pandas as pd
    import pytest

    from spatialindex_spark.operators.knn import knn_join

    rng = np.random.default_rng(7)
    # dense clump: 500 pts inside a 0.25-deg disc; sparse field: 150 pts
    # over a 60-deg band — the clump needs a fine level, the field a coarse
    n_d, n_s = 500, 150
    ra = np.concatenate([40.0 + rng.uniform(-0.25, 0.25, n_d),
                         rng.uniform(0, 60, n_s)])
    dec = np.concatenate([10.0 + rng.uniform(-0.25, 0.25, n_d),
                          rng.uniform(-30, 30, n_s)])
    pdf = pd.DataFrame({"pid": np.arange(n_d + n_s, dtype=np.int64),
                        "ra": ra, "dec": dec})
    pts = spark.createDataFrame(pdf).localCheckpoint(eager=True)

    got_auto = {(r.pid_l, r.knn_rank): r.pid_r for r in
                knn_join(pts, pts, k=3, auto_levels=True,
                         left_id="pid", right_id="pid",
                         exclude_self=True, on_starved="exact").collect()}
    got_fixed = {(r.pid_l, r.knn_rank): r.pid_r for r in
                 knn_join(pts, pts, k=3, level=6, levels=(6, 4, 2, 0),
                          left_id="pid", right_id="pid",
                          exclude_self=True,
                          on_starved="exact").collect()}
    assert got_auto == got_fixed
    assert len(got_auto) == 3 * (n_d + n_s)

    # numpy brute-force spot check across both populations
    rar, decr = np.radians(ra), np.radians(dec)
    x = np.cos(rar) * np.cos(decr)
    y = np.sin(rar) * np.cos(decr)
    z = np.sin(decr)
    dots = np.clip(np.outer(x, x) + np.outer(y, y) + np.outer(z, z), -1, 1)
    dist = np.degrees(np.arccos(dots))
    for i in list(range(0, n_d, 50)) + list(range(n_d, n_d + n_s, 15)):
        order = sorted((float(dist[i, j]), j)
                       for j in range(n_d + n_s) if j != i)
        for rk in range(1, 4):
            assert got_auto[(i, rk)] == order[rk - 1][1]

    # mutually exclusive with an explicit ladder
    with pytest.raises(ValueError, match="auto_levels"):
        knn_join(pts, pts, k=3, levels=(4, 0), auto_levels=True,
                 left_id="pid", right_id="pid")


def test_knn_join_null_coordinates(spark):
    """A row with a null or NaN ra/dec has no position: as a left row it
    produces no output rows, as a right row it is never a candidate. Both
    ladder modes return the brute-force top-k over the positioned rows."""
    import numpy as np
    import pandas as pd

    from spatialindex_spark.operators.knn import knn_join

    rng = np.random.default_rng(7)
    n_d, n_s = 500, 150
    ra = np.concatenate([40.0 + rng.uniform(-0.25, 0.25, n_d),
                         rng.uniform(0, 60, n_s)])
    dec = np.concatenate([10.0 + rng.uniform(-0.25, 0.25, n_d),
                          rng.uniform(-30, 30, n_s)])
    pdf = pd.DataFrame({"pid": np.arange(n_d + n_s, dtype=np.int64),
                        "ra": ra, "dec": dec})
    null = F.lit(None).cast("double")
    pts = (spark.createDataFrame(pdf)
           .withColumns({
               "ra": F.when(F.col("pid").isin(3, 520), null)
               .when(F.col("pid") == 42, F.lit(float("nan")))
               .otherwise(F.col("ra")),
               "dec": F.when(F.col("pid") == 510, null)
               .otherwise(F.col("dec"))})
           .localCheckpoint(eager=True))

    ok = np.setdiff1d(np.arange(n_d + n_s), [3, 42, 510, 520])
    rar, decr = np.radians(ra[ok]), np.radians(dec[ok])
    xyz = np.stack([np.cos(rar) * np.cos(decr), np.sin(rar) * np.cos(decr),
                    np.sin(decr)], axis=1)
    neg_dot = -(xyz @ xyz.T)
    np.fill_diagonal(neg_dot, np.inf)
    want = {}
    for i in range(len(ok)):
        for rk, j in enumerate(np.lexsort((ok, neg_dot[i]))[:3], 1):
            want[(int(ok[i]), rk)] = int(ok[j])

    for kw in ({"auto_levels": True}, {"level": 6, "levels": (6, 4, 2, 0)}):
        got = {(r.pid_l, r.knn_rank): r.pid_r for r in
               knn_join(pts, pts, k=3, left_id="pid", right_id="pid",
                        exclude_self=True, on_starved="exact", **kw)
               .collect()}
        assert got == want, kw


def test_iceberg_compaction_snapshot(spark, tmp_path):
    """Maintenance job (r3 verdict item #5): compaction rewrites the
    current generation into one sorted file per bucket as a NEW
    lineage-committed snapshot — same rows, fewer-or-equal files, rows
    cell-sorted within each file — while time travel to the
    pre-compaction snapshot still reads the OLD generation's files."""
    import os

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    # a bulk write leaves one file per bucket; an appended micro-batch adds
    # more files to the same buckets
    t.write(df.filter(F.substring("image_id", 4, 15).cast("long") < 450))
    t.append_batch(df.filter(F.substring("image_id", 4, 15).cast("long")
                             >= 450), 0)
    snap0 = t._snapshot_meta()
    before = {r["image_id"]: r["spt_ind"] for r in t.read(spark).collect()}
    files_before = {f for f in t.read(spark).inputFiles()}
    assert len(before) == 600

    snap1 = t.compact(spark)
    assert snap1["snapshot"] == snap0["snapshot"] + 1
    assert snap1["total_rows"] == snap0["total_rows"]
    after = {r["image_id"]: r["spt_ind"] for r in t.read(spark).collect()}
    assert after == before
    assert t.read(spark).count() == 600     # the folded batch reads once
    # the batch's own files stay on disk for time travel; inputFiles lists
    # them although the read's partition filter skips them
    files_after = {f for f in t.read(spark).inputFiles()
                   if "data-stream" not in f}
    assert len(files_after) <= len(files_before)
    assert all(f"data-g{snap1['snapshot']}" in f for f in files_after)
    # one file per non-empty bucket
    gen_dir = os.path.join(str(tmp_path / "tab"), f"data-g{snap1['snapshot']}")
    for d in os.listdir(gen_dir):
        if d.startswith("bucket="):
            parts = [f for f in os.listdir(os.path.join(gen_dir, d))
                     if f.endswith(".parquet")]
            assert len(parts) == 1, (d, parts)
    # rows cell-sorted within each compacted file (row-group pruning)
    one = (spark.read.parquet(os.path.join(gen_dir, "bucket=3"))
           .select("spt_ind").collect())
    vals = [r.spt_ind for r in one]
    assert vals == sorted(vals)

    # time travel: the pre-compaction snapshot reads the OLD generation
    tt = t.read(spark, snapshot=snap0["snapshot"])
    assert {r["image_id"]: r["spt_ind"] for r in tt.collect()} == before
    assert all("data-g" not in f for f in tt.inputFiles())

    # covering-range reads work against the compacted generation
    lo = min(before.values())
    sub = t.read(spark, ranges=[[lo, lo + 50_000]])
    want = {i for i, c in before.items() if lo <= c <= lo + 50_000}
    assert {r["image_id"] for r in sub.collect()} == want


def test_iceberg_concurrent_resume_race(spark, tmp_path, monkeypatch):
    """Two resumers racing the same crashed write must recover without
    duplicate rows, missing rows, or torn metadata (r2 verdict item: the
    commit protocol is stage -> claim-by-rename -> atomic marker, so
    exactly one writer's files become each bucket). Both threads run the
    FULL resume concurrently against one table."""
    import os
    import threading

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    _crash_after_markers(monkeypatch, 2)
    with pytest.raises(RuntimeError):
        t.write(df)
    monkeypatch.undo()
    n_before = len(t.committed_buckets())
    assert 0 < n_before < 8

    errs = []

    def resume():
        try:
            # separate handle: no shared python state between racers
            IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8).write(df)
        except Exception as ex:  # pragma: no cover - diagnostic
            errs.append(ex)

    racers = [threading.Thread(target=resume) for _ in range(2)]
    for r in racers:
        r.start()
    for r in racers:
        r.join()
    assert not errs, errs
    # every bucket committed exactly once, content = one-shot write
    done = t.committed_buckets()
    assert sorted(done) == list(range(8))
    back = t.read(spark)
    assert back.count() == 600
    assert back.select("image_id").distinct().count() == 600
    # lineage checksums match the data actually on disk
    from pyspark.sql import functions as F

    disk = {int(r["bucket"]): (int(r["n"]), int(r["ck"])) for r in
            back.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.crc32(F.col("spt_ind").cast("string")))
                     .alias("ck")).collect()}
    for b, row in done.items():
        if row["row_count"]:
            assert disk[b] == (row["row_count"], row["checksum"])
    # no stray staging dirs left behind
    assert not [d for d in os.listdir(str(tmp_path / "tab"))
                if d.startswith("stage-")]


def test_salting(spark, small_images):
    from spatialindex_spark.operators.joins import cell_counts, hot_cells, salt_hot_cells

    cc = cell_counts(small_images)
    hot = hot_cells(cc, 5.0)
    assert set(hot) >= {245105, 258749}  # the seeded hot-spot cells
    small = spark.createDataFrame(
        [(245105, "a"), (999, "b")], "spt_ind long, tag string")
    big2, small2, key = salt_hot_cells(
        small_images.select("image_id", "spt_ind"), small, hot, nsalts=4)
    j = big2.join(small2, key).select("image_id", "tag")
    plain = small_images.join(small, "spt_ind").select("image_id", "tag")
    assert j.count() == plain.count()


def test_region_join_ellipse(spark, small_images):
    from spatialindex_spark.operators.joins import region_join
    from spatialindex_spark.functions.regions import SphericalEllipse
    from spatialindex_spark.functions.geometry import sc_to_v3

    regions = [{"region_id": 9, "kind": "ellipse", "ra": 129.4, "dec": 43.7,
                "a": 5.0, "b": 2.5, "angle": 20.0}]
    got = region_join(small_images, regions, level=7) \
        .select("image_id").toPandas()
    ell = SphericalEllipse.from_center(sc_to_v3(129.4, 43.7), 5.0, 2.5, 20.0)
    pts = small_images.select("image_id", "x", "y", "z").toPandas()
    inside = ell.contains_cols(pts.x.values, pts.y.values, pts.z.values)
    assert set(got.image_id) == set(pts.image_id[inside])


def test_cell_equijoin(spark, small_images):
    from spatialindex_spark.operators.joins import cell_equijoin

    a = small_images.select(F.col("image_id").alias("ia"), "spt_ind")
    b = small_images.select(F.col("image_id").alias("ib"), "spt_ind")
    j = cell_equijoin(a, b, level_from=7, level_to=4)
    # self-pairs must all be present (same cell -> same level-4 prefix)
    n_self = j.filter(F.col("ia") == F.col("ib")).count()
    assert n_self == small_images.count()


def test_resumable_tile_assignment(spark, small_images, tmp_path,
                                   monkeypatch):
    """North rule: tile assignment resumes from checkpoint after a crash and
    the resumed output equals a one-shot run (no duplicates, no gaps)."""
    from spatialindex_spark.operators.tiles import resumable_tile_assignment

    tiles = [{"tile_id": 1, "center_ra": 129.4, "center_dec": 43.7,
              "width_deg": 6.0, "height_deg": 6.0},
             {"tile_id": 2, "center_ra": 34.0, "center_dec": 45.0,
              "width_deg": 6.0, "height_deg": 6.0}]
    p1 = str(tmp_path / "resumed")
    _crash_after_markers(monkeypatch, 4)
    with pytest.raises(RuntimeError):
        resumable_tile_assignment(small_images, tiles, p1)
    monkeypatch.undo()
    snap1 = resumable_tile_assignment(small_images, tiles, p1)

    p2 = str(tmp_path / "oneshot")
    snap2 = resumable_tile_assignment(small_images, tiles, p2)
    assert snap1["total_rows"] == snap2["total_rows"] > 0

    a = spark.read.parquet(p1 + "/data").select("tile_id", "image_id").toPandas()
    b = spark.read.parquet(p2 + "/data").select("tile_id", "image_id").toPandas()
    assert sorted(map(tuple, a.values.tolist())) == sorted(map(tuple, b.values.tolist()))
    # re-running a completed job is a no-op (all buckets committed)
    snap3 = resumable_tile_assignment(small_images, tiles, p1)
    assert snap3["total_rows"] == snap1["total_rows"]


def test_ann_ivf_recall(spark):
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")

    from spatialindex_spark.operators.similarity import brute_force_topk, ivf_topk

    exact = brute_force_topk(q, df, k=3).toPandas()
    approx = ivf_topk(q, df, k=3, dim=16, ncentroids=8, nprobe=4).toPandas()
    for qid in range(5):
        assert approx[(approx.query_id == qid) & (approx["rank"] == 1)].vec_id.iloc[0] == qid
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        hits += len(e & a)
    assert hits >= 10  # >= 66% recall@3 with half the lists probed


def test_connected_components_matches_union_find(spark):
    rng = np.random.default_rng(21)
    n = 400
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (250, 2)) if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    from spatialindex_spark.operators.graph import connected_components

    got = {r.id: r.component for r in connected_components(df).collect()}

    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {v for e in edges for v in e}
    want = {}
    roots = {}
    for v in sorted(nodes):
        r = find(v)
        roots.setdefault(r, v)   # min id per component
        want[v] = roots[r]
    assert got == want


def test_minhash_transitive_dedup_collapses_chains(spark):
    # A~B and B~C verified, A!~C directly: greedy keeps {A}, transitive too;
    # but A~C-only chains via a middleman differ: build texts so doc0~doc1,
    # doc1~doc2 (overlap), doc0 vs doc2 below threshold
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    words = base.split()
    t0 = " ".join(words)
    t1 = " ".join(words[:36] + ["xx1", "xx2", "xx3", "xx4"])
    t2 = " ".join(words[:32] + ["xx1", "xx2", "xx3", "xx4", "yy1", "yy2", "yy3", "yy4"])
    df = spark.createDataFrame([(0, t0), (1, t1), (2, t2)], "doc_id long, text string")

    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    kept_t = sorted(r.doc_id for r in
                    minhash_lsh_dedup(df, threshold=0.75, transitive=True).collect())
    kept_g = sorted(r.doc_id for r in
                    minhash_lsh_dedup(df, threshold=0.75).collect())
    assert kept_t[0] == 0 and len(kept_t) <= len(kept_g)
    assert 0 in kept_g


def test_region_count_fast_matches_exact(spark):
    """A1 INSIDE fast path: interior from the counts table + boundary-only
    exact filter == brute-force geometric count."""
    import math

    from spatialindex_spark.functions.geometry import RAD_PER_DEG, sc_to_v3
    from spatialindex_spark.operators.counts import cell_count_tree, region_count_fast
    from spatialindex_spark.sources.images import synth_images_indexed

    img = synth_images_indexed(spark, 4000, level=7, systems=("htm",)) \
        .select("image_id", "x", "y", "z", "spt_ind").localCheckpoint(eager=True)
    counts = cell_count_tree(img, "spt_ind", level=7).localCheckpoint(eager=True)
    for (ra, dec, r) in [(129.4, 43.7, 6.0), (34.0, 45.0, 12.0), (200.0, -30.0, 3.0)]:
        c = sc_to_v3(ra, dec)
        brute = img.filter(
            F.col("x") * c.x + F.col("y") * c.y + F.col("z") * c.z
            >= math.cos(r * RAD_PER_DEG)).count()
        fast = region_count_fast(img, counts, ra, dec, r, level=7)
        assert fast == brute, (ra, dec, r, fast, brute)


def test_iceberg_snapshot_time_travel(spark, tmp_path, monkeypatch):
    """Snapshot N = the buckets its manifest recorded; reading an older
    snapshot excludes later-committed buckets."""
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    _crash_after_markers(monkeypatch, 4)
    with pytest.raises(RuntimeError):
        t.write(df)
    monkeypatch.undo()
    snap0 = t.commit_snapshot()
    t.write(df)  # resume to completion -> snapshot 1
    full = t.read(spark).count()
    old = t.read(spark, snapshot=snap0["snapshot"]).count()
    assert full == 600
    assert old == snap0["total_rows"] < 600


def test_asof_join_matches_pandas_merge_asof(spark):
    rng = np.random.default_rng(33)
    import pandas as pd

    lt = pd.DataFrame({
        "key": rng.integers(0, 5, 300),
        "ts": rng.integers(0, 100_000, 300).astype("datetime64[s]"),
        "lid": np.arange(300)})
    rt = pd.DataFrame({
        "key": rng.integers(0, 5, 200),
        "ts": rng.integers(0, 100_000, 200).astype("datetime64[s]"),
        "val": rng.standard_normal(200).round(6)})
    rt = rt.drop_duplicates(["key", "ts"])  # merge_asof tie semantics

    from spatialindex_spark.operators.asof import asof_join

    l = spark.createDataFrame(lt)
    r = spark.createDataFrame(rt)
    got = (asof_join(l, r, ts="ts", by="key", right_cols=["val"])
           .toPandas().sort_values("lid").reset_index(drop=True))
    want = pd.merge_asof(lt.sort_values("ts"), rt.sort_values("ts"),
                         on="ts", by="key", direction="backward") \
        .sort_values("lid").reset_index(drop=True)
    assert (got["val_asof"].round(6).fillna(1e18)
            == want["val"].round(6).fillna(1e18)).all()


def test_interval_point_join_matches_brute(spark):
    import pandas as pd

    rng = np.random.default_rng(44)
    base = np.datetime64("2024-01-01", "us")
    iv = pd.DataFrame({
        "iv_id": np.arange(60),
        "key": rng.integers(0, 4, 60),
        "start": base + rng.integers(0, 200_000, 60).astype("timedelta64[s]").astype("timedelta64[us]"),
    })
    iv["end"] = iv["start"] + np.array(
        rng.integers(60, 7200, 60), dtype="timedelta64[s]").astype("timedelta64[us]")
    pt = pd.DataFrame({
        "pt_id": np.arange(400),
        "key": rng.integers(0, 4, 400),
        "ts": base + rng.integers(0, 220_000, 400).astype("timedelta64[s]").astype("timedelta64[us]"),
        "val": rng.standard_normal(400).round(6)})

    from spatialindex_spark.operators.ranges import interval_point_join

    l = spark.createDataFrame(iv)
    r = spark.createDataFrame(pt)
    got = set(map(tuple, interval_point_join(l, r, by="key", bucket="30 minutes")
                  .select("iv_id_l", "pt_id_r").collect()))
    want = set()
    for a in iv.itertuples(index=False):
        for b in pt.itertuples(index=False):
            if a.key == b.key and a.start <= b.ts <= a.end:
                want.add((a.iv_id, b.pt_id))
    assert got == want and len(want) > 50
    # plan check: hash equi-join, not a nested-loop range join
    plan = interval_point_join(l, r, by="key", bucket="30 minutes") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_crossmatch_danger_band_radius_matches_brute(spark):
    """Regression for the unsound ring-1 bound: radii in (safe, max_pix_rad]
    of some order made the old level picker choose a level where true pairs
    straddle NON-adjacent cells and were silently dropped. 0.86 deg sits in
    order 6's danger band; the safe picker must return the complete pair
    set."""
    import math

    rng = np.random.default_rng(77)
    n = 1500
    ra = 40.0 + rng.uniform(0, 8, n)
    dec = -20.0 + rng.uniform(0, 8, n)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(d)) for i, (a, d) in enumerate(zip(ra, dec))],
        "pid long, ra double, dec double").localCheckpoint(eager=True)

    from spatialindex_spark.operators.joins import crossmatch

    r_deg = 0.86
    got = set()
    for row in crossmatch(pts, pts, r_deg).select("pid_l", "pid_r").collect():
        got.add((row.pid_l, row.pid_r))
    # driver brute force
    x = np.cos(np.radians(ra)) * np.cos(np.radians(dec))
    y = np.sin(np.radians(ra)) * np.cos(np.radians(dec))
    z = np.sin(np.radians(dec))
    dots = np.stack([x, y, z], 1) @ np.stack([x, y, z], 1).T
    want = set(zip(*np.nonzero(dots >= math.cos(math.radians(r_deg)))))
    want = {(int(a), int(b)) for a, b in want}
    missing = want - got
    assert not missing, f"{len(missing)} pairs dropped, e.g. {list(missing)[:3]}"
    assert got == want


def test_safe_ring1_radius_table():
    """The 0.59 * max_pix_rad bound stays below the measured safe radius at
    every order, and max_pix_rad itself provably violates adjacency."""
    import json
    import os

    from spatialindex_spark.functions.healpix import (
        hpx_id, max_pix_rad, neighbors, safe_ring1_rad)

    with open(os.path.join(os.path.dirname(__file__), "fixtures",
                           "safe_radius.json")) as f:
        measured = {int(k): v for k, v in json.load(f).items()}
    for order, safe in measured.items():
        assert safe_ring1_rad(order) <= safe, order

    # sampling check at order 7: zero violations at the safe bound, real
    # violations at max_pix_rad (the old, unsound bound)
    rng = np.random.default_rng(5)
    n = 120_000
    zc = rng.uniform(-1, 1, n); phi = rng.uniform(0, 2 * np.pi, n)
    st = np.sqrt(1 - zc * zc)
    p = np.stack([st * np.cos(phi), st * np.sin(phi), zc], 1)
    a = rng.standard_normal((n, 3))
    t = a - (a * p).sum(1)[:, None] * p
    t /= np.linalg.norm(t, axis=1)[:, None]

    def viol(r):
        q = np.cos(r) * p + np.sin(r) * t
        def cells(v):
            ra = np.degrees(np.arctan2(v[:, 1], v[:, 0])) % 360
            dec = np.degrees(np.arcsin(np.clip(v[:, 2], -1, 1)))
            return hpx_id(7, ra, dec)
        cp, cq = cells(p), cells(q)
        nb = neighbors(7, cp)
        return int((~((cp == cq) | (nb == cq[:, None]).any(1))).sum())

    assert viol(safe_ring1_rad(7)) == 0
    assert viol(max_pix_rad(7) * 0.98) > 0


def test_knn_starved_query_widens_exactly(spark):
    """A starved query (all data on the far side of the sky, so the initial
    ring disc is empty) must trigger iterative shell widening and still
    return the exact top-k — and knn must never build a full-table cross
    join (VERDICT r1 'What's wrong' #1: the old fallback crossJoined the
    entire data table)."""
    rng = np.random.default_rng(77)
    n = 40
    ra = rng.uniform(10.0, 12.0, n)
    dec = rng.uniform(10.0, 12.0, n)
    data = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in enumerate(zip(ra, dec))],
        "pid long, ra double, dec double")
    qs = [(1, 190.0, -10.0), (2, 11.0, 11.0)]  # far-side (starved) + local
    q = spark.createDataFrame(qs, "query_id long, ra double, dec double")

    from spatialindex_spark.operators.knn import knn

    got = knn(q, data, k=6, level=5, rings=1, tiebreak="pid") \
        .select("query_id", "pid", "knn_rank").toPandas()

    from spatialindex_spark.functions.geometry import radec_to_xyz

    x, y, z = radec_to_xyz(ra, dec)
    for qid, qra, qdec in qs:
        qx, qy, qz = radec_to_xyz(np.array([qra]), np.array([qdec]))
        d = np.arccos(np.clip(x * qx + y * qy + z * qz, -1, 1))
        order = np.lexsort((np.arange(n), d))[:6]
        mine = got[got.query_id == qid].sort_values("knn_rank").pid.tolist()
        assert mine == [int(i) for i in order], f"query {qid} not exact"

    # structural guarantee: no cross-join anywhere in the knn operator
    # (knn_join in the same module has an explicitly-LABELED crossJoin
    # fallback for its starved tail — that one is scoped and intentional,
    # so the assertion targets the knn function's own source)
    import inspect
    from spatialindex_spark.operators.knn import knn as knn_fn
    src = inspect.getsource(knn_fn)
    assert "crossJoin" not in src and "cross_join" not in src


def test_safe_radius_table_in_sync():
    """The package's embedded measured non-adjacency table must equal the
    fixture it was copied from, and the operative 0.59 bound must sit below
    the measured threshold at every covered order."""
    import json
    import os

    from spatialindex_spark.functions.healpix import (
        MEASURED_NONADJ_RAD, max_pix_rad, safe_ring1_rad)

    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        "safe_radius.json")
    fixture = {int(k): v for k, v in json.load(open(path)).items()}
    assert fixture == MEASURED_NONADJ_RAD
    for order in MEASURED_NONADJ_RAD:
        assert 0.59 * max_pix_rad(order) <= MEASURED_NONADJ_RAD[order]
        safe_ring1_rad(order)  # must not raise


def test_safe_ring1_property_all_orders():
    """Fresh-sample property sweep of EVERY selectable order 0..16 (r2
    verdict item 9; extended through 16 in r4 when knn_join's density
    rungs gained orders 14-16): random pairs separated by up to
    0.999*safe_ring1_rad must land in the same or ring-1-adjacent HPX
    cells. This is the exact soundness property crossmatch/knn level
    selection relies on."""
    from spatialindex_spark.functions.healpix import (
        hpx_id, neighbors, safe_ring1_rad)

    rng = np.random.default_rng(20260817)
    n = 60_000
    for order in range(17):
        r = 0.999 * safe_ring1_rad(order)
        ra = rng.uniform(0, 360, n)
        dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
        # displace each point by exactly r in a random direction
        d0 = np.radians(dec)
        c = np.stack([np.cos(np.radians(ra)) * np.cos(d0),
                      np.sin(np.radians(ra)) * np.cos(d0), np.sin(d0)], 1)
        t = np.where(np.abs(c[:, 2:3]) < 0.9,
                     np.array([[0.0, 0.0, 1.0]]), np.array([[1.0, 0.0, 0.0]]))
        e1 = np.cross(c, t); e1 /= np.linalg.norm(e1, axis=1, keepdims=True)
        e2 = np.cross(c, e1)
        ph = rng.uniform(0, 2 * np.pi, n)[:, None]
        p2 = (np.cos(r) * c
              + np.sin(r) * (np.cos(ph) * e1 + np.sin(ph) * e2))
        ra2 = np.degrees(np.arctan2(p2[:, 1], p2[:, 0])) % 360
        dec2 = np.degrees(np.arcsin(np.clip(p2[:, 2], -1, 1)))
        a = hpx_id(order, ra, dec)
        b = hpx_id(order, ra2, dec2)
        diff = a != b
        if not diff.any():
            continue
        nb = neighbors(order, a[diff])
        ok = (nb == b[diff][:, None]).any(axis=1)
        assert ok.all(), (
            f"order {order}: {(~ok).sum()} pairs at {r:.2e} rad landed in "
            "non-adjacent cells")


def test_region_join_ellipse_hpx(spark, small_images):
    """HPX-mode ellipse regions cover via the bounding cone (radius = a):
    (1) covering completeness — every ellipse member's HPX cell falls in
    the ranges; (2) the Spark join result is identical to HTM mode."""
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.functions.cover import hpx_cone_ranges
    from spatialindex_spark.functions.geometry import sc_to_v3
    from spatialindex_spark.functions.healpix import hpx_id
    from spatialindex_spark.functions.regions import SphericalEllipse
    from spatialindex_spark.operators.joins import region_join

    reg = {"region_id": 9, "kind": "ellipse", "ra": 129.4, "dec": 43.7,
           "a": 5.0, "b": 2.5, "angle": 20.0}
    ell = SphericalEllipse.from_center(
        sc_to_v3(reg["ra"], reg["dec"]), reg["a"], reg["b"], reg["angle"])

    # (1) numpy completeness on a dense sample around the region
    rng = np.random.default_rng(3)
    n = 40_000
    ra = reg["ra"] + rng.uniform(-8, 8, n)
    dec = reg["dec"] + rng.uniform(-8, 8, n)
    x = np.cos(np.radians(ra)) * np.cos(np.radians(dec))
    y = np.sin(np.radians(ra)) * np.cos(np.radians(dec))
    z = np.sin(np.radians(dec))
    inside = ell.contains_cols(x, y, z)
    cells = hpx_id(7, ra[inside], dec[inside])
    ranges = hpx_cone_ranges(7, reg["ra"], reg["dec"], reg["a"],
                             exact_ends=True)
    covered = np.zeros(len(cells), dtype=bool)
    for lo, hi in ranges:
        covered |= (cells >= lo) & (cells <= hi)
    assert covered.all(), "HPX ellipse covering dropped a true member"

    # (2) cross-mode equality on the image table
    pts_hpx = small_images.withColumn("spt_ind", F.col("hpx7"))
    got_hpx = {r.image_id for r in
               region_join(pts_hpx, [reg], level=7, mode=SpatialIndex.HPX)
               .select("image_id").collect()}
    got_htm = {r.image_id for r in
               region_join(small_images, [reg], level=7)
               .select("image_id").collect()}
    assert got_hpx == got_htm


def test_simhash_band_pigeonhole_guard(spark):
    from spatialindex_spark.operators.dedup import simhash_dedup

    df = spark.createDataFrame([(1, "x" * 40)], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_dedup(df, band_bits=32, max_hamming=3)
    with pytest.raises(ValueError, match="divide"):
        simhash_dedup(df, band_bits=24)


def test_short_docs_never_dedup_candidates(spark):
    """Docs shorter than the shingle width must survive dedup untouched
    (no shingles => never candidates), matching the SQL oracle's
    length >= k exclusion. 'ab' and 'ab   ' used to be Jaccard-1.0 via
    space padding."""
    from spatialindex_spark.operators.dedup import (
        minhash_lsh_dedup, simhash_dedup)

    rows = [(1, "ab"), (2, "ab   "), (3, "xy"),
            (4, "a normal length document " * 4),
            (5, "a normal length document " * 4 + "tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept_mh = sorted(r.doc_id for r in
                     minhash_lsh_dedup(df, threshold=0.7).collect())
    assert kept_mh == [1, 2, 3, 4]
    kept_sh = sorted(r.doc_id for r in
                     simhash_dedup(df, max_hamming=3, k=12).collect())
    assert set(kept_sh) >= {1, 2, 3}


def test_region_split_soundness():
    """region_split_ranges soundness, no Spark needed: a point in a
    certainly-interior cell must satisfy the exact region predicate, and
    every region point's cell must be in inside+boundary (covering
    completeness) — for cone/poly/ellipse x HTM/HPX."""
    import math

    from spatialindex_spark.functions.constraints import SpatialIndex as SIc
    from spatialindex_spark.functions.geometry import RAD_PER_DEG, sc_to_v3
    from spatialindex_spark.functions.healpix import hpx_id
    from spatialindex_spark.functions.htm import htm_id
    from spatialindex_spark.functions.cover import polygon_normals
    from spatialindex_spark.operators.counts import region_split_ranges

    rng = np.random.default_rng(42)
    n = 60_000
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    x = np.cos(np.radians(ra)) * np.cos(np.radians(dec))
    y = np.sin(np.radians(ra)) * np.cos(np.radians(dec))
    z = np.sin(np.radians(dec))
    level = 5

    def member(region):
        if region["kind"] == "cone":
            c = sc_to_v3(region["ra"], region["dec"])
            return (x * c.x + y * c.y + z * c.z
                    >= math.cos(region["radius"] * RAD_PER_DEG))
        if region["kind"] == "poly":
            m = np.ones(n, dtype=bool)
            for nm in polygon_normals(region["ra"], region["dec"]):
                m &= (x * nm.x + y * nm.y + z * nm.z) >= 0
            return m
        from spatialindex_spark.functions.regions import SphericalEllipse

        e = SphericalEllipse.from_center(
            sc_to_v3(region["ra"], region["dec"]), region["a"], region["b"],
            region.get("angle", 0.0))
        return ((x * e.cen.x + y * e.cen.y + z * e.cen.z >= 0)
                & (e.xx * x * x + e.yy * y * y + e.zz * z * z
                   + 2 * e.xy * x * y + 2 * e.xz * x * z
                   + 2 * e.yz * y * z <= 0))

    def in_ranges(cells, ranges):
        m = np.zeros(len(cells), dtype=bool)
        for lo, hi in ranges:
            m |= (cells >= lo) & (cells <= hi)
        return m

    cases = [
        ({"kind": "cone", "ra": 129.4, "dec": 43.7, "radius": 12.0}, SIc.HTM),
        ({"kind": "cone", "ra": 34.0, "dec": 45.0, "radius": 9.0}, SIc.HPX),
        ({"kind": "poly", "ra": [120.0, 150.0, 150.0, 120.0],
          "dec": [30.0, 30.0, 55.0, 55.0]}, SIc.HTM),
        ({"kind": "poly", "ra": [120.0, 150.0, 150.0, 120.0],
          "dec": [30.0, 30.0, 55.0, 55.0]}, SIc.HPX),
        ({"kind": "ellipse", "ra": 200.0, "dec": 10.0, "a": 8.0, "b": 4.0,
          "angle": 30.0}, SIc.HTM),
        ({"kind": "ellipse", "ra": 200.0, "dec": 10.0, "a": 8.0, "b": 4.0,
          "angle": 30.0}, SIc.HPX),
        ({"kind": "cone", "ra": 129.4, "dec": 43.7, "radius": 12.0}, SIc.S2),
        ({"kind": "poly", "ra": [120.0, 150.0, 150.0, 120.0],
          "dec": [30.0, 30.0, 55.0, 55.0]}, SIc.S2),
        ({"kind": "ellipse", "ra": 200.0, "dec": 10.0, "a": 8.0, "b": 4.0,
          "angle": 30.0}, SIc.S2),
        ({"kind": "cone", "ra": 129.4, "dec": 43.7, "radius": 12.0}, SIc.H3),
        ({"kind": "poly", "ra": [120.0, 150.0, 150.0, 120.0],
          "dec": [30.0, 30.0, 55.0, 55.0]}, SIc.H3),
        ({"kind": "ellipse", "ra": 200.0, "dec": 10.0, "a": 8.0, "b": 4.0,
          "angle": 30.0}, SIc.H3),
    ]
    from spatialindex_spark.functions.h3s2 import h3_hex_id, s2_cell_id

    for region, mode in cases:
        inside, boundary = region_split_ranges(region, level, mode)
        if mode == SIc.HTM:
            cells = htm_id(x, y, z, level)
        elif mode == SIc.HPX:
            cells = hpx_id(level, ra, dec)
        elif mode == SIc.S2:
            # split ranges come back sign-bit-biased; bias the ids too
            cells = s2_cell_id(x, y, z, level) ^ (-1 << 63)
        else:
            cells = h3_hex_id(ra, dec, level)
        m = member(region)
        full = in_ranges(cells, inside)
        covered = full | in_ranges(cells, boundary)
        # soundness: every point in a "certainly interior" cell is a member
        assert not np.any(full & ~m), (region["kind"], mode)
        # completeness: every member's cell is covered
        assert not np.any(m & ~covered), (region["kind"], mode)
        # non-triviality: the interior actually contributes for these sizes
        assert full.sum() > 0, (region["kind"], mode)


def test_ann_lsh_recall_on_clustered_vectors(spark):
    """Recall on data with cluster structure — the regime LSH is built for
    (the uniform-random fixture is the adversarial case: every neighbor sits
    at ~60 deg). 2000 vectors in 100 tight clusters; queries drawn from
    clusters; recall@5 of quantized-ternary LSH must be high while probing
    a small fraction of buckets."""
    rng = np.random.default_rng(11)
    n_clusters, per, dim = 100, 20, 32
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # noise 0.08 => within-cluster cosine ~0.9: near-duplicate-grade
    # structure, the regime ANN deployments actually probe
    vecs = np.repeat(centers, per, axis=0) \
        + 0.08 * rng.standard_normal((n_clusters * per, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 400 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")

    from spatialindex_spark.operators.similarity import (
        brute_force_topk, lsh_topk, probe_masks)

    bits, probe = 12, 3
    frac = len(probe_masks(bits, probe)) / (1 << bits)
    assert frac < 0.08  # <8% of buckets probed
    exact = brute_force_topk(q, df, k=5).toPandas()
    approx = lsh_topk(q, df, k=5, dim=dim, bits=bits,
                      hamming_probe=probe).toPandas()
    hits = total = 0
    for qid in exact.query_id.unique():
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.9, f"clustered recall {hits}/{total}"


def test_ann_pq_recall_on_clustered_vectors(spark):
    """Product-quantization recall in the clustered regime it is built
    for (uniform-random is adversarial for any coarse quantizer): with
    the codebook drawn from the data, ADC ranking must recover most of
    the true top-5, and the integer adist must be non-negative and
    monotone in rank."""
    rng = np.random.default_rng(13)
    n_clusters, per, dim = 50, 20, 32
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, per, axis=0) \
        + 0.08 * rng.standard_normal((n_clusters * per, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 250 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")

    from spatialindex_spark.operators.similarity import (
        brute_force_topk, pq_topk)

    exact = brute_force_topk(q, df, k=5).toPandas()
    approx = pq_topk(q, df, k=5, dim=dim, m=8, ncentroids=64).toPandas()
    hits = total = 0
    for qid in exact.query_id.unique():
        e = set(exact[exact.query_id == qid].vec_id)
        a = set(approx[approx.query_id == qid].vec_id)
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.7, f"clustered PQ recall {hits}/{total}"
    g = approx.sort_values(["query_id", "rank"])
    assert (g.adist >= 0).all()
    assert (g.groupby("query_id").adist.diff().dropna() >= 0).all()


def test_knn_starved_deep_level_exact(spark):
    """Starved widening at a DEEP level (10): the ring disc at level 10
    can't reach the far side of the sky within the cell budget, so the
    probe must coarsen levels instead of enumerating millions of cells —
    and still return the exact top-k."""
    rng = np.random.default_rng(99)
    n = 30
    ra = rng.uniform(200.0, 201.0, n)
    dec = rng.uniform(-31.0, -30.0, n)
    data = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in enumerate(zip(ra, dec))],
        "pid long, ra double, dec double")
    q = spark.createDataFrame([(1, 20.0, 40.0)],
                              "query_id long, ra double, dec double")

    from spatialindex_spark.operators.knn import knn

    got = knn(q, data, k=5, level=10, rings=1, tiebreak="pid") \
        .select("pid", "knn_rank").toPandas()

    from spatialindex_spark.functions.geometry import radec_to_xyz

    x, y, z = radec_to_xyz(ra, dec)
    qx, qy, qz = radec_to_xyz(np.array([20.0]), np.array([40.0]))
    d = np.arccos(np.clip(x * qx + y * qy + z * qz, -1, 1))
    order = np.lexsort((np.arange(n), d))[:5]
    assert got.sort_values("knn_rank").pid.tolist() == [int(i) for i in order]


def test_phash_image_dedup(spark):
    """Image near-dup removal on the phash column: lossy re-encodes of an
    image (phash within a few bits) are dropped, unrelated images survive,
    and the shuffle never carries pixel bytes (plan check)."""
    from spatialindex_spark.operators.multimodal import phash_image_dedup

    rows = []
    for i in range(40):
        img = imaging.synth_image(i, 32, 32)
        rows.append((f"img{i:04d}", imaging.encode(img, "z"),
                     int(imaging.phash64(img))))
        if i % 8 == 0:  # planted near-dup: lossy re-encode
            twin = imaging.decode(imaging.encode(img, "dct"), 32, 32, "dct")
            rows.append((f"img{i:04d}_dup", imaging.encode(twin, "z"),
                         int(imaging.phash64(twin))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary, phash long")
    out = phash_image_dedup(df, max_hamming=3)  # twins at <=1 bit; nearest unrelated pair is 6
    kept = sorted(r.image_id for r in out.select("image_id").collect())
    assert all(not k.endswith("_dup") for k in kept), kept
    assert len(kept) == 40  # every original survives
    # plan: no Exchange ships the image payload
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes" not in line, line


def test_pack_sequences_semantics(spark):
    """Concat-and-chunk packing: offsets are the exact running sum within
    each shard (contiguous stream), bin_offset < ctx, bins monotone with
    doc order, and a doc longer than ctx spans multiple bins."""
    from spatialindex_spark.operators.packing import pack_sequences

    rows = [(i, int(t), i % 2) for i, t in
            enumerate([100, 300, 50, 200, 10, 900, 256, 1])]
    df = spark.createDataFrame(rows, "doc_id long, n long, shard long")
    out = pack_sequences(df, tokens_col="n", id_col="doc_id", ctx_len=256,
                         shard_col="shard").toPandas() \
        .sort_values(["shard", "doc_id"]).reset_index(drop=True)
    for _, g in out.groupby("shard"):
        run = 0
        for _, r in g.iterrows():
            assert r.pack_offset == run
            assert r.bin_start == run // 256
            assert r.bin_offset == run % 256
            assert r.bin_end == (run + max(r.n, 1) - 1) // 256
            run += r.n
    long_doc = out[out.n == 900].iloc[0]
    assert long_doc.bin_end > long_doc.bin_start
    import pytest as _pytest
    with _pytest.raises(ValueError, match="ctx_len"):
        pack_sequences(df, tokens_col="n", ctx_len=0)


def test_repetition_metrics(spark):
    """Gopher repetition rules: a doc of one repeated line fails on
    dup_line_frac; a doc of one repeated word pair fails on
    top_2gram_frac; varied prose passes all three."""
    from spatialindex_spark.operators.text import with_repetition

    rows = [
        (1, "buy now\n" * 20),                        # dup lines
        (2, "spam ham " * 30),                        # one dominating 2-gram
        (3, "the quick brown fox jumps over a lazy dog while twelve "
            "zebras graze quietly near the old stone bridge at dawn"),
        (4, ""),                                      # empty: all zeros, ok
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in with_repetition(df).collect()}
    assert out[1].dup_line_frac > 0.9 and out[1].repetition_ok == 0
    assert out[2].top_2gram_frac > 0.4 and out[2].repetition_ok == 0
    assert out[3].repetition_ok == 1
    assert out[4].dup_line_frac == 0.0 and out[4].repetition_ok == 1


def test_repetition_refuses_reserved_columns(spark):
    """An input column named like one of with_repetition's working
    columns (any case) raises instead of being overwritten and dropped;
    duplicate ids are scored row by row."""
    import pytest as _pytest

    from spatialindex_spark.operators.text import with_repetition

    df = spark.createDataFrame([(1, "a b a b"), (1, "x\nx")],
                               "doc_id long, text string")
    for name in ("_rep_words", "_rep_g5", "_REP_G2S"):
        with _pytest.raises(ValueError, match="reserved"):
            with_repetition(df.withColumn(name, F.lit(1)))
    got = sorted((r.dup_line_frac, r.top_2gram_frac)
                 for r in with_repetition(df).collect())
    assert got == [(0.0, 2 / 3), (0.5, 1.0)]


def test_region_join_s2_mode(spark, small_images):
    """mode=S2 region_join (biased Hilbert ranges + same exact geometry)
    must return exactly the HTM-mode result for cone, polygon, and
    ellipse regions."""
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.functions.udfs import s2_udf
    from spatialindex_spark.operators.joins import region_join

    regions = [
        {"region_id": 1, "kind": "cone", "ra": 129.4, "dec": 43.7,
         "radius": 4.0},
        {"region_id": 2, "kind": "poly", "ra": [30.0, 40.0, 40.0, 30.0],
         "dec": [40.0, 40.0, 50.0, 50.0]},
        {"region_id": 3, "kind": "ellipse", "ra": 129.4, "dec": 43.7,
         "a": 5.0, "b": 2.5, "angle": 20.0},
    ]
    pts_s2 = small_images.withColumn(
        "spt_ind", s2_udf(7, curve="hilbert")("x", "y", "z"))
    got_s2 = {(r.region_id, r.image_id) for r in
              region_join(pts_s2, regions, level=7, mode=SpatialIndex.S2)
              .select("region_id", "image_id").collect()}
    got_htm = {(r.region_id, r.image_id) for r in
               region_join(small_images, regions, level=7)
               .select("region_id", "image_id").collect()}
    assert got_s2 == got_htm
    assert got_s2  # non-trivial


def test_region_join_h3_mode(spark, small_images):
    """mode=H3 region_join (explicit hex cell-list covering at the join
    res + same exact geometry) must return exactly the HTM-mode result
    for cone, polygon, and ellipse regions. The hex cell column is at a
    coarser res (hex res 4 ~ 0.45 deg cells) than the HTM level-7 column
    — the covering is res-matched so results are identical anyway."""
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.functions.udfs import h3_udf
    from spatialindex_spark.operators.joins import region_join

    regions = [
        {"region_id": 1, "kind": "cone", "ra": 129.4, "dec": 43.7,
         "radius": 4.0},
        {"region_id": 2, "kind": "poly", "ra": [30.0, 40.0, 40.0, 30.0],
         "dec": [40.0, 40.0, 50.0, 50.0]},
        {"region_id": 3, "kind": "ellipse", "ra": 129.4, "dec": 43.7,
         "a": 5.0, "b": 2.5, "angle": 20.0},
    ]
    pts_h3 = small_images.withColumn("spt_ind", h3_udf(4)("ra", "dec"))
    got_h3 = {(r.region_id, r.image_id) for r in
              region_join(pts_h3, regions, level=4, mode=SpatialIndex.H3)
              .select("region_id", "image_id").collect()}
    got_htm = {(r.region_id, r.image_id) for r in
               region_join(small_images, regions, level=7)
               .select("region_id", "image_id").collect()}
    assert got_h3 == got_htm
    assert got_h3  # non-trivial

    # the in-plan layout guard fails loudly on a legacy-layout column
    import pytest

    pts_bad = small_images.withColumn(
        "spt_ind", h3_udf(4, grid="hpx")("ra", "dec"))
    with pytest.raises(Exception, match="hex-H3"):
        region_join(pts_bad, regions[:1], level=4,
                    mode=SpatialIndex.H3).count()

    # legacy ids at res 8-15 set (res << 56) bits matching the hex mode
    # nibble pattern 1 — the r3 guard passed them silently; the res-nibble
    # check must reject them (r3 advice fix)
    pts_bad9 = small_images.withColumn(
        "spt_ind", h3_udf(9, grid="hpx")("ra", "dec"))
    with pytest.raises(Exception, match="hex-H3"):
        region_join(pts_bad9, regions[:1], level=4,
                    mode=SpatialIndex.H3).count()

    # true hex ids at the WRONG res can never equi-match the covering —
    # the guard must fail loudly instead of returning empty
    pts_res5 = small_images.withColumn("spt_ind", h3_udf(5)("ra", "dec"))
    with pytest.raises(Exception, match="hex-H3"):
        region_join(pts_res5, regions[:1], level=4,
                    mode=SpatialIndex.H3).count()


def test_h3_covering_properties():
    """Hex coverings are complete (random in-region points' assigned
    cells are always listed) and split-sound (inside cells contain only
    members); the h3_hex_validate layout guard rejects legacy-layout
    ids."""
    import numpy as np
    import pytest

    from spatialindex_spark.functions.cover import polygon_normals
    from spatialindex_spark.functions.h3s2 import (
        h3_cone_cells, h3_hex_id, h3_hex_validate, h3_id, h3_polygon_cells)

    rng = np.random.default_rng(11)
    for _ in range(8):
        ra0 = float(rng.uniform(0, 360))
        dec0 = float(np.degrees(np.arcsin(rng.uniform(-1, 1))))
        rdeg = float(rng.uniform(0.2, 6.0))
        res = int(rng.integers(2, 7))
        cells = h3_cone_cells(ra0, dec0, rdeg, res)
        # sample cap-uniform points inside the cone
        d0, r = np.radians(dec0), np.radians(rdeg)
        c = np.array([np.cos(np.radians(ra0)) * np.cos(d0),
                      np.sin(np.radians(ra0)) * np.cos(d0), np.sin(d0)])
        t = np.array([0., 0., 1.]) if abs(c[2]) < 0.9 else np.array([1., 0., 0.])
        e1 = np.cross(c, t); e1 /= np.linalg.norm(e1); e2 = np.cross(c, e1)
        th = np.arccos(rng.uniform(np.cos(r), 1, 2000))
        ph = rng.uniform(0, 2 * np.pi, 2000)
        p = (np.outer(np.cos(th), c) + np.outer(np.sin(th) * np.cos(ph), e1)
             + np.outer(np.sin(th) * np.sin(ph), e2))
        ra = np.degrees(np.arctan2(p[:, 1], p[:, 0])) % 360
        dec = np.degrees(np.arcsin(np.clip(p[:, 2], -1, 1)))
        assert np.isin(h3_hex_id(ra, dec, res), cells).all()
        # split soundness: inside-cell members satisfy the exact cone test
        ins, bnd = h3_cone_cells(ra0, dec0, rdeg, res, split=True)
        assert len(ins) + len(bnd) == len(cells)
        assert not np.intersect1d(ins, bnd).size

    # polygon completeness on one quad
    RA = [120.0, 150.0, 150.0, 120.0]
    DE = [30.0, 30.0, 55.0, 55.0]
    cells = h3_polygon_cells(RA, DE, 4)
    ra = rng.uniform(120, 150, 4000)
    dec = rng.uniform(30, 55, 4000)
    d, rr = np.radians(dec), np.radians(ra)
    x = np.cos(rr) * np.cos(d); y = np.sin(rr) * np.cos(d); z = np.sin(d)
    inside = np.ones(4000, bool)
    for nm in polygon_normals(RA, DE):
        inside &= (x * nm.x + y * nm.y + z * nm.z) >= 0
    assert np.isin(h3_hex_id(ra[inside], dec[inside], 4), cells).all()

    # layout guard: legacy-layout ids rejected, hex ids accepted
    h3_hex_validate(h3_hex_id(ra[:100], dec[:100], 5))
    with pytest.raises(ValueError, match="grid='hpx'"):
        h3_hex_validate(h3_id(ra[:100], dec[:100], 5))


def test_image_quality_filter(spark, tmp_path):
    """Image metadata gate: each rejection reason fires exactly when it
    should, and the filter over a table WITH a binary payload column
    never reads the bytes (ReadSchema excludes it — metadata-only scan)."""
    from spatialindex_spark.operators.multimodal import image_quality_filter

    rows = [
        (1, 640, 480, 640 * 480, b"x"),     # fine (bpp 1.0)
        (2, 32, 480, 32 * 480, b"x"),       # min side too small
        (3, 20000, 480, 20000 * 480, b"x"),  # max side exceeded
        (4, 4000, 400, 4000 * 400, b"x"),   # ar 10 > 4
        (5, 640, 480, 100, b"x"),           # truncated payload (bpp tiny)
    ]
    df = spark.createDataFrame(
        rows, "image_id long, w int, h int, nbytes long, bytes binary")
    kept = [r.image_id for r in
            image_quality_filter(df).select("image_id").collect()]
    assert kept == [1]
    flags = {r.image_id: r.image_ok for r in
             image_quality_filter(df, mark_only=True).collect()}
    assert flags == {1: 1, 2: 0, 3: 0, 4: 0, 5: 0}

    # column pruning: bytes never read from parquet for the id projection
    p = str(tmp_path / "imgs")
    df.write.parquet(p)
    plan = (image_quality_filter(spark.read.parquet(p))
            .select("image_id")
            ._jdf.queryExecution().executedPlan().toString())
    i = plan.find("ReadSchema")
    assert i > 0 and "bytes:binary" not in plan[i:i + 300], plan[i:i + 300]


def test_pii_scrub(spark):
    """PII redaction: emails, IPv4s, long digit runs replaced; short
    numbers and normal text untouched; counts match; map-only JVM plan
    (no Python, no Exchange)."""
    from spatialindex_spark.operators.text import pii_scrub

    rows = [
        (1, "mail me at jane.doe+spam@sub.example.co.uk thanks"),
        (2, "server 192.168.1.254 answered in 12 ms"),
        (3, "card 4111111111111111 and ssn 123456789 leaked"),
        (4, "call 911 or wait 30 minutes at pier 39"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           pii_scrub(df, with_counts=True).collect()}
    assert out[1].text == "mail me at <EMAIL> thanks"
    assert out[1].n_email == 1
    assert out[2].text == "server <IP> answered in 12 ms"
    assert out[2].n_ipv4 == 1
    assert out[3].text == "card <NUMBER> and ssn <NUMBER> leaked"
    assert out[3].n_longnum == 2
    assert out[4].text == rows[3][1]  # nothing redacted
    assert out[4].n_email == out[4].n_ipv4 == out[4].n_longnum == 0

    plan = (pii_scrub(df)._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_decontaminate(spark):
    """13-gram decontamination: planted eval overlaps are removed, clean
    docs survive, hash and text probe keys agree, and the training side's
    gram derivation is pure JVM (no Python eval in the plan)."""
    from spatialindex_spark.operators.text import decontaminate

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo")
    rows = [
        (1, base + " sierra tango"),              # contains the eval gram
        (2, "totally unrelated words that never overlap with anything "
            "else in this corpus at all even slightly whatsoever today"),
        (3, base.upper()),                        # case-folded hit
        (4, "short doc"),                         # < n words: never flagged
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, base)], "doc_id long, text string")

    out = decontaminate(train, eval_df, n=13)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]

    marked = decontaminate(train, eval_df, n=13, mark_only=True)
    flags = {r.doc_id: r.contaminated for r in marked.collect()}
    assert flags == {1: 1, 2: 0, 3: 1, 4: 0}

    # hash-key and text-key probes agree
    out_txt = decontaminate(train, eval_df, n=13, key="text")
    assert (sorted(r.doc_id for r in out_txt.collect())
            == sorted(r.doc_id for r in out.collect()))

    # plan: broadcast probe, zero Python evals
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sampling_operators(spark):
    """cap_per_source keeps the n lowest-id rows per source; the
    stratified sample is a deterministic pure function of the id (same
    rows on every evaluation — the property DataFrame.sample lacks in
    Spark 4)."""
    from spatialindex_spark.operators.sampling import (cap_per_source,
                                                       stratified_sample)

    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    capped = cap_per_source(df, n=5, source_col="source")
    out = {(r.source, r.doc_id) for r in capped.collect()}
    assert len(out) == 15
    for s in ("s0", "s1", "s2"):
        ids = sorted(i for src, i in out if src == s)
        want = sorted(i for i, src in rows if src == s)[:5]
        assert ids == want

    samp = stratified_sample(df, {"s0": 1.0, "s1": 0.0},
                             default_fraction=0.5)
    got1 = sorted(r.doc_id for r in samp.collect())
    got2 = sorted(r.doc_id for r in samp.collect())   # re-evaluate plan
    assert got1 == got2
    by_src = {s: [i for i in got1 if i % 3 == int(s[1])]
              for s in ("s0", "s1", "s2")}
    assert len(by_src["s0"]) == 20      # fraction 1.0 keeps all
    assert len(by_src["s1"]) == 0       # fraction 0.0 drops all
    assert 0 < len(by_src["s2"]) < 20   # default 0.5 keeps some


def test_temperature_mix(spark):
    """Temperature mixing: T<1 gives the low-resource source a larger
    share of the budget than its natural proportion; T=1 reproduces
    proportional sampling; a source too small for its boosted share
    caps at keeping everything; selection is deterministic."""
    from spatialindex_spark.operators.sampling import temperature_mix

    # skewed corpus: 900 rows of s0, 90 of s1, 10 of s2
    rows = ([(i, "s0") for i in range(900)]
            + [(1000 + i, "s1") for i in range(90)]
            + [(2000 + i, "s2") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def shares(out):
        by = {"s0": 0, "s1": 0, "s2": 0}
        for r in out.collect():
            by[r.source] += 1
        return by

    cool = shares(temperature_mix(df, 0.5, 200))
    # natural shares are 90/9/1%; sqrt weights give ~69/22/7% of 200
    assert cool["s1"] > 0.09 * sum(cool.values())   # boosted above 9%
    assert cool["s2"] == 10                          # capped: keeps all
    assert abs(sum(cool.values()) - 200) <= 200 * 0.2

    prop = shares(temperature_mix(df, 1.0, 200))
    # T=1 is proportional: s0 keeps ~90% of the budget
    assert prop["s0"] > 0.8 * sum(prop.values())

    again = shares(temperature_mix(df, 0.5, 200))
    assert again == cool                             # deterministic


def test_sessionize_semantics(spark):
    """Gap sessionization: sessions split exactly at gaps > threshold,
    simultaneous events order by the deterministic tiebreak."""
    import datetime as dt

    from spatialindex_spark.operators.asof import sessionize

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(minutes=10)),   # same session
        (3, 1, t0 + dt.timedelta(minutes=50)),   # gap 40 > 30 -> new
        (4, 1, t0 + dt.timedelta(minutes=50)),   # simultaneous, same sess
        (5, 2, t0),                              # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r.event_id: r.session_seq
           for r in sessionize(df, gap_minutes=30.0).collect()}
    assert out[1] == 0 and out[2] == 0
    assert out[3] == 1 and out[4] == 1
    assert out[5] == 0


def test_iceberg_stat_pruned_buckets(spark, tmp_path):
    """Lineage-stat pruning: a bucket whose nominal hash span overlaps the
    query ranges but whose ACTUAL [cell_min, cell_max] misses them is
    skipped; results stay identical to the unpruned read."""
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    t.write(df)
    done = t.committed_buckets()
    # craft ranges inside one bucket's nominal span but OUTSIDE its actual
    # data: the gap just above a bucket's cell_max, within its hash span
    pruned_any = False
    for b, st in done.items():
        if st["row_count"] == 0 or st["cell_min"] is None:
            continue
        probe = [[st["cell_max"] + 1, st["cell_max"] + 2]]
        if t.bucket_of_cell(st["cell_max"] + 1) == b:
            nominal = t.buckets_for_ranges(probe)
            stat = t.stat_pruned_buckets(probe)
            assert b in nominal
            if b not in stat:
                pruned_any = True
                # correctness: the pruned read returns the same rows
                a = t.read(spark, ranges=probe).count()
                full = t.read(spark).filter(
                    (F.col("spt_ind") >= probe[0][0])
                    & (F.col("spt_ind") <= probe[0][1])).count()
                assert a == full
    assert pruned_any, "no bucket offered a stat-prunable gap"


def test_best_match_nearest_only(spark):
    """best_match returns exactly one row per matched left row — the
    true nearest counterpart (brute-force verified), ties by right id."""
    rng = np.random.default_rng(21)
    n = 300
    ra = rng.uniform(0, 360, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    left = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in
         enumerate(zip(ra, dec))], "lid long, ra double, dec double")
    ra2 = rng.uniform(0, 360, n)
    dec2 = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    right = spark.createDataFrame(
        [(int(i), float(r), float(d)) for i, (r, d) in
         enumerate(zip(ra2, dec2))], "rid long, ra double, dec double")

    from spatialindex_spark.operators.joins import best_match

    got = best_match(left, right, 5.0, left_id="lid", right_id="rid") \
        .select("lid_l", "rid_r").toPandas()
    assert got.lid_l.is_unique

    from spatialindex_spark.functions.geometry import radec_to_xyz

    import math
    x1, y1, z1 = radec_to_xyz(ra, dec)
    x2, y2, z2 = radec_to_xyz(ra2, dec2)
    dots = np.outer(x1, x2) + np.outer(y1, y2) + np.outer(z1, z2)
    cosr = math.cos(np.radians(5.0))
    want = {}
    for i in range(n):
        js = np.where(dots[i] >= cosr)[0]
        if len(js):
            # nearest = max dot; ties -> smallest rid
            best = js[np.lexsort((js, -dots[i][js]))][0]
            want[i] = int(best)
    got_map = dict(zip(got.lid_l, got.rid_r))
    assert got_map == want


def test_empty_input_edges(spark):
    """Degenerate inputs must return empty results, not crash: an empty
    region list, empty document tables through every dedup variant, and
    an empty crossmatch side."""
    from spatialindex_spark.functions.udfs import with_spatial_columns
    from spatialindex_spark.operators.dedup import (exact_dedup,
                                                    minhash_lsh_dedup,
                                                    simhash_dedup)
    from spatialindex_spark.operators.joins import crossmatch, region_join

    base = (spark.range(0, 50)
            .withColumn("ra", (F.col("id") * 7.1) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * 0.37) % 1) - 1))))
    pts = with_spatial_columns(base, level=7, systems=("htm",))
    assert region_join(pts, [], level=7).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_dedup(empty_docs).count() == 0
    assert exact_dedup(empty_docs).count() == 0
    assert simhash_dedup(empty_docs).count() == 0

    empty_pts = spark.createDataFrame([], "pid long, ra double, dec double")
    assert crossmatch(empty_pts, empty_pts, 1.0).count() == 0


def test_ann_int8_recall(spark):
    """INT8-quantized ANN: integer-dot ranking must recover nearly all of
    the float cosine top-k (quantization noise is ~1/127 per dim), and the
    codes must be in [-127, 127]."""
    rng = np.random.default_rng(33)
    n, dim = 2000, 32
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") % 400 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")

    from spatialindex_spark.operators.similarity import (brute_force_topk,
                                                         int8_topk)

    k = 5
    approx = {(r.query_id, r.vec_id)
              for r in int8_topk(q, df, k=k).collect()}
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_topk(q, df, k=k).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_default_constraint_splice_base4(spark):
    """The reference's DEFAULT resolution rule (no colname, no encoding ->
    BASE4 digits against 'spt_ind', spatial_index.pyx:89-104) must splice
    directly into SQL over a table ingested with spt_encoding='base4':
    the coherence gap a raw-id spt_ind leaves (silently empty results) is
    exactly what this end-to-end test closes."""
    from spatialindex_spark.functions.constraints import SpatialIndex
    from spatialindex_spark.functions.geometry import radec_to_xyz
    from spatialindex_spark.functions.udfs import with_spatial_columns

    n = 4000
    base = (spark.range(0, n)
            .withColumn("ra", (F.col("id") * 7.31) % 360)
            .withColumn("dec", F.degrees(F.asin(
                2 * ((F.col("id") * 0.377) % 1) - 1))))
    ra0, dec0, radius = 129.4, 43.7, 4.0

    # reference-convention table: BASE4-decimal spt_ind + x,y,z
    pts = with_spatial_columns(base, level=7, systems=("htm",),
                               spt_encoding="base4")
    pts.createOrReplaceTempView("splice_t")
    c = SpatialIndex().cone_search(ra0, dec0, radius)  # all defaults
    assert c["status"] == 0
    got = sorted(r.id for r in spark.sql(
        f"SELECT id FROM splice_t WHERE ({c['index_constraint']}) "
        f"AND ({c['geom_constraint']})").collect())

    rows = base.select("id", "ra", "dec").toPandas()
    x, y, z = radec_to_xyz(rows.ra.values, rows.dec.values)
    qx, qy, qz = radec_to_xyz(np.array([ra0]), np.array([dec0]))
    dots = x * qx[0] + y * qy[0] + z * qz[0]
    want = sorted(rows.id.values[dots >= math.cos(math.radians(radius))]
                  .tolist())
    assert got == want and len(want) > 0

    # raw ingest (the package default) keeps working with the explicit
    # DECIMAL encoding the operators use internally
    raw = with_spatial_columns(base, level=7, systems=("htm",))
    raw.createOrReplaceTempView("splice_raw_t")
    c2 = SpatialIndex().cone_search(ra0, dec0, radius, colname="spt_ind",
                                    encoding=SpatialIndex.DECIMAL)
    got_raw = sorted(r.id for r in spark.sql(
        f"SELECT id FROM splice_raw_t WHERE ({c2['index_constraint']}) "
        f"AND ({c2['geom_constraint']})").collect())
    assert got_raw == want

    # base4 is an HTM id rendering; any other spt_ind family must refuse
    with pytest.raises(ValueError):
        with_spatial_columns(base, level=7, systems=("hpx",),
                             spt_ind="hpx", spt_encoding="base4")
    with pytest.raises(ValueError):
        with_spatial_columns(base, level=7, spt_encoding="base16")


def test_iceberg_stream_append_exactly_once(spark, tmp_path):
    """Micro-batch appends: exactly-once under foreachBatch-style replay,
    half-appended batches invisible, batch-level time travel, and
    stat-pruning that sees appended cell ranges without mutating bulk
    lineage."""
    import os
    import shutil

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    allrows = synth_images_indexed(spark, 500, level=7, systems=("htm",))
    idn = F.substring("image_id", 4, 15).cast("long")
    base = allrows.filter(idn < 400)
    b1 = allrows.filter((idn >= 400) & (idn < 460))
    b2 = allrows.filter(idn >= 460)
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    t.write(base)
    snap_base = t._snapshot_meta()["snapshot"]

    m1 = t.append_batch(b1.select(*base.columns), 0)
    snap_b1 = t._snapshot_meta()["snapshot"]
    m2 = t.append_batch(b2.select(*base.columns), 1)
    assert m1["row_count"] == 60 and m2["row_count"] == 40
    assert t.read(spark).count() == 500

    # replayed batch id (foreachBatch retry) is a no-op
    again = t.append_batch(b1.select(*base.columns), 0)
    assert again == m1
    assert t.read(spark).count() == 500

    # time travel: pre-append snapshot sees only the bulk table; the
    # post-batch-1 snapshot sees exactly base + batch 1
    assert t.read(spark, snapshot=snap_base).count() == 400
    assert t.read(spark, snapshot=snap_b1).count() == 460

    # half-appended batch (files, no marker) is invisible and cleaned up
    # by the retry
    bdir = os.path.join(t.stream_dir, "batch=7")
    shutil.copytree(os.path.join(t.stream_dir, "batch=0"), bdir)
    assert t.read(spark).count() == 500
    t.append_batch(b2.select(*base.columns), 7)
    assert t.read(spark).count() == 540

    # stat pruning sees appended cells: query exactly one appended row's
    # cell; its bucket must be kept and the row found
    row = b1.select("spt_ind").orderBy("spt_ind").first()
    cell = int(row["spt_ind"])
    got = t.read(spark, ranges=[[cell, cell]])
    gidn = F.substring("image_id", 4, 15).cast("long")
    assert got.filter((gidn >= 400) & (gidn < 460)).count() >= 1


def test_iceberg_stream_write_end_to_end(spark, tmp_path):
    """readStream -> stream_write(foreachBatch sink) -> table: every
    micro-batch is one marked commit; the table equals the union of the
    inputs and time travel replays the ingest history batch by batch."""
    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    allrows = synth_images_indexed(spark, 300, level=7, systems=("htm",))
    idn = F.substring("image_id", 4, 15).cast("long")
    src = str(tmp_path / "stream_src")
    allrows.filter(idn < 200).coalesce(1).write.parquet(src)

    t = IcebergLiteTable(str(tmp_path / "stab"), num_buckets=8)
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = t.stream_write(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        n1 = t.read(spark).count()
        assert n1 == 200
        allrows.filter(idn >= 200).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        assert t.read(spark).count() == 300
    finally:
        q.stop()
    batches = t.committed_batches()
    assert len(batches) == 2 and sum(
        b["row_count"] for b in batches.values()) == 300
    # per-batch time travel: the snapshot committed right after batch 0
    snaps = sorted(int(k.split("-")[1].split(".")[0])
                   for k in __import__("os").listdir(t.meta_dir)
                   if k.startswith("snapshot-"))
    counts = sorted(t.read(spark, snapshot=s2).count() for s2 in snaps)
    assert counts[0] == 0 or counts[0] == 200  # pre- or post-batch-0
    assert counts[-1] == 300


def test_iceberg_compact_folds_stream_batches(spark, tmp_path):
    """Compaction folds committed stream batches into the new generation:
    same rows through one sorted file per bucket, folded batches never
    re-union (folded_through watermark), replaying a folded batch id is
    still a no-op, pre-fold snapshots still read their own layout, and
    post-fold appends keep working."""
    import glob

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    allrows = synth_images_indexed(spark, 500, level=7, systems=("htm",))
    idn = F.substring("image_id", 4, 15).cast("long")
    base = allrows.filter(idn < 300)
    b1 = allrows.filter((idn >= 300) & (idn < 400))
    b2 = allrows.filter((idn >= 400) & (idn < 450))
    b3 = allrows.filter(idn >= 450)

    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    t.write(base)
    t.append_batch(b1.select(*base.columns), 0)
    t.append_batch(b2.select(*base.columns), 1)
    pre_fold_snap = t._snapshot_meta()["snapshot"]
    n_files_before = len(glob.glob(f"{t.path}/data*/**/*.parquet",
                                   recursive=True))

    snap = t.compact(spark)
    assert snap["folded_through"] == 1
    assert snap["batches"] == []
    assert snap["total_rows"] == 450
    assert t.read(spark).count() == 450
    # one file per bucket in the new generation
    gen = glob.glob(f"{t.path}/{snap['data_rel']}/bucket=*/**.parquet")
    assert 0 < len(gen) <= 8 < n_files_before

    # replaying a FOLDED batch id is still a no-op
    t.append_batch(b1.select(*base.columns), 0)
    assert t.read(spark).count() == 450

    # pre-fold time travel reads the old layout
    assert t.read(spark, snapshot=pre_fold_snap).count() == 450

    # post-fold appends land and stat pruning still finds appended cells
    t.append_batch(b3.select(*base.columns), 2)
    assert t.read(spark).count() == 500
    cell = int(b3.select("spt_ind").orderBy("spt_ind").first()["spt_ind"])
    got = t.read(spark, ranges=[[cell, cell]])
    gidn = F.substring("image_id", 4, 15).cast("long")
    assert got.filter(gidn >= 450).count() >= 1


def test_paragraph_dup_fraction(spark):
    """Planted cross-document shared paragraph is flagged; within-document
    repeats alone are NOT duplicates; unique paragraphs stay clean."""
    from spatialindex_spark.operators.dedup import paragraph_dup_fraction

    rows = [
        (1, "alpha unique one\n\nSHARED PARA\n\nbeta unique"),
        (2, "gamma unique\n\nshared  para"),   # normalizes to the same
        (3, "solo text\n\nsolo text"),         # within-doc repeat only
        (4, "entirely unique document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dup_fraction(df).collect()}
    assert got[1]["n_paras"] == 3 and got[1]["n_dup_paras"] == 1
    assert got[2]["n_paras"] == 2 and got[2]["n_dup_paras"] == 1
    assert got[3]["n_dup_paras"] == 0          # repeats within one doc
    assert got[4]["dup_frac"] == 0.0


def test_span_dup_fraction_alignment(spark):
    """Exact-substring spans: the space-anchored mode detects a verbatim
    copy planted at MISALIGNED byte offsets (different offsets mod
    stride), which the fixed-stride grid provably cannot; within-doc
    structure alone never flags; whole-text spans catch short dups."""
    from spatialindex_spark.operators.dedup import span_dup_fraction

    shared = ("the quick brown fox jumps over the lazy dog again "
              "and again in the meadow tonight")
    rows = [
        # copy at offset 40 (10*4-char prefix units)
        (0, "AAA " * 10 + shared + " tail zero unique text here pad"),
        # same copy at offset 14 — misaligned mod 16 vs doc 0
        (1, "B " * 7 + shared + " different tail one more unique xx"),
        (2, "totally unrelated document with no shared content at all"),
        (3, "short dup"),
        (4, "short dup"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sp = {r["doc_id"]: r for r in
          span_dup_fraction(df, window=32, anchor="space").collect()}
    assert sp[0]["n_dup_spans"] > 0 and sp[1]["n_dup_spans"] > 0
    # both sides flag the SAME number of shared spans (the copy's
    # word anchors travel with its content)
    assert sp[0]["n_dup_spans"] == sp[1]["n_dup_spans"]
    assert sp[2]["n_dup_spans"] == 0
    assert sp[3]["dup_frac"] == 1.0 and sp[4]["dup_frac"] == 1.0

    st = {r["doc_id"]: r for r in
          span_dup_fraction(df, window=32, stride=16).collect()}
    # the documented stride-grid blind spot: offsets 40 vs 14 disagree
    # mod 16, so no window string can coincide
    assert st[0]["n_dup_spans"] == 0 and st[1]["n_dup_spans"] == 0
    assert st[3]["dup_frac"] == 1.0            # whole-text span still hits

    # aligned copies DO flag on the stride grid (offset 0 in both)
    al = spark.createDataFrame(
        [(10, shared + " first tail unique"),
         (11, shared + " second tail other")],
        "doc_id long, text string")
    ga = {r["doc_id"]: r for r in
          span_dup_fraction(al, window=32, stride=16).collect()}
    assert ga[10]["n_dup_spans"] > 0 and ga[11]["n_dup_spans"] > 0


def test_bucket_pairs_hot_path_parity(spark, monkeypatch):
    """Buckets above HOT_BUCKET_CAP take the blocked (chunk x chunk)
    pair enumeration; the pair SET must be identical to the plain
    collect_list path — the cap only redistributes the quadratic work
    across tasks (a planted degenerate bucket used to expand N^2/2
    pairs inside one task)."""
    import pandas as pd

    import spatialindex_spark.operators.dedup as D

    rows = ([("hot", i) for i in range(60)]
            + [("warm", i) for i in range(100, 103)]
            + [("solo", 200)])
    df = (spark.createDataFrame(
            pd.DataFrame({"bh": [r[0] for r in rows],
                          "doc_id": [r[1] for r in rows]}))
          .withColumn("band", F.lit(0)))

    def pairs(pdf):
        return sorted((r._a._id, r._b._id) for r in pdf.collect())

    plain = pairs(D._bucket_pairs(df, ["band", "bh"], "doc_id"))
    assert len(plain) == 60 * 59 // 2 + 3
    monkeypatch.setattr(D, "HOT_BUCKET_CAP", 8)
    monkeypatch.setattr(D, "HOT_BUCKET_CHUNKS", 4)
    blocked = pairs(D._bucket_pairs(df, ["band", "bh"], "doc_id"))
    assert blocked == plain


def test_minhash_dedup_hot_bucket_path_identical(spark, monkeypatch):
    """End-to-end: a boilerplate-heavy corpus (many near-identical
    templated docs landing in one LSH bucket) returns the same kept set
    through the blocked hot-bucket path as through the plain path."""
    import pandas as pd

    import spatialindex_spark.operators.dedup as D
    from spatialindex_spark.operators.dedup import minhash_lsh_dedup

    docs = [f"the same boilerplate template page number {i % 3} end"
            for i in range(120)] + [
        "a genuinely unique document about healpix rings",
        "another unique document about triangular meshes"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs}))
    base = sorted(r.doc_id for r in
                  minhash_lsh_dedup(df, threshold=0.7).collect())
    monkeypatch.setattr(D, "HOT_BUCKET_CAP", 16)
    monkeypatch.setattr(D, "HOT_BUCKET_CHUNKS", 4)
    hot = sorted(r.doc_id for r in
                 minhash_lsh_dedup(df, threshold=0.7).collect())
    assert hot == base and len(base) < len(docs)


def test_iceberg_guards_overflow_and_crash_debris(spark, tmp_path):
    """Two storage-layer guards: (a) a bucket configuration whose
    (cell - lo) * num_buckets product overflows int64 must fail at
    CONSTRUCTION (mid-write it raises per-row under ANSI and silently
    drops rows to negative buckets without); (b) compact() must refuse a
    data/ directory holding renamed-but-unmarked crash debris — freezing
    uncommitted rows into a generation would serve them forever."""
    import os

    import pytest

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable

    # (a) hpx level 27 x 64 buckets: span*nb ~ 1.4e19 > 2^63
    with pytest.raises(ValueError, match="overflow"):
        IcebergLiteTable(str(tmp_path / "deep"), system="hpx", level=27)
    # the engine's own practical ceiling still constructs
    IcebergLiteTable(str(tmp_path / "ok20"), system="hpx", level=20)

    # (b) crash debris: bucket dir present, commit log empty
    t = IcebergLiteTable(str(tmp_path / "debris"), num_buckets=4)
    os.makedirs(os.path.join(t.data_dir, "bucket=0"))
    with open(os.path.join(t.data_dir, "bucket=0", "part-0.parquet"),
              "wb") as f:
        f.write(b"not really parquet")
    with pytest.raises(RuntimeError, match="commit log is empty"):
        t.compact(spark)


@pytest.mark.parametrize("entry", ["write", "append_batch"])
@pytest.mark.parametrize("col", ["bucket", "batch"])
def test_iceberg_refuses_reserved_columns(spark, tmp_path, entry, col):
    """``bucket`` and ``batch`` are the layout's partition columns: a user
    column of either name is refused before anything is written (a user
    ``bucket`` was silently overwritten by the bucket ids, a ``batch``
    broke every later read)."""
    import os

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    df = synth_images_indexed(spark, 50, level=7, systems=("htm",)) \
        .withColumn(col, F.lit(7))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=4)
    call = t.write if entry == "write" else (lambda d: t.append_batch(d, 0))
    with pytest.raises(ValueError, match=col):
        call(df)
    assert not os.path.exists(t.path)


def test_iceberg_one_pass_write_markers_match_files(spark, tmp_path):
    """The bulk write stages every bucket in one pass: one parquet file per
    non-empty bucket. Every lineage marker — from write, append_batch and a
    folding compact — equals a recount of its own files (row count, cell
    range, crc32 checksum of the cell ids as strings), and re-running a
    finished write starts no Spark job."""
    import os
    import zlib

    import pyarrow.parquet as pq

    from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable
    from spatialindex_spark.sources.images import synth_images_indexed

    def recount(bucket_dir):
        cells = [int(v) for f in sorted(os.listdir(bucket_dir))
                 if f.endswith(".parquet")
                 for v in pq.read_table(os.path.join(bucket_dir, f),
                                        columns=["spt_ind"])["spt_ind"]
                 .to_pylist()]
        return (len(cells), min(cells), max(cells),
                sum(zlib.crc32(str(c).encode()) for c in cells))

    def stat(m):
        return m["row_count"], m["cell_min"], m["cell_max"], m["checksum"]

    def check_markers(gen_dir, markers):
        for b, m in markers.items():
            d = os.path.join(gen_dir, f"bucket={b}")
            if m["row_count"]:
                assert recount(d) == stat(m), b
            else:
                assert not os.path.exists(d), b

    idn = F.substring("image_id", 4, 15).cast("long")
    df = synth_images_indexed(spark, 600, level=7, systems=("htm",))
    t = IcebergLiteTable(str(tmp_path / "tab"), num_buckets=8)
    t.write(df.filter(idn < 500))
    done = t.committed_buckets()
    assert sorted(done) == list(range(8))
    for b, m in done.items():
        d = os.path.join(t.data_dir, f"bucket={b}")
        if m["row_count"]:
            assert len([f for f in os.listdir(d)
                        if f.endswith(".parquet")]) == 1, b
    check_markers(t.data_dir, done)

    marker = t.append_batch(df.filter(idn >= 500), 0)
    assert marker["row_count"] == 100
    bdir = os.path.join(t.stream_dir, "batch=0")
    check_markers(bdir, {s["bucket"]: s for s in marker["buckets"]})

    snap = t.compact(spark)
    assert snap["total_rows"] == 600
    check_markers(os.path.join(t.path, snap["data_rel"]),
                  t.committed_buckets())

    sc = spark.sparkContext
    sc.setJobGroup("iceberg-rerun", "re-run a finished write")
    try:
        again = IcebergLiteTable(t.path, num_buckets=8).write(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again["buckets"] == list(range(8))
    assert list(sc.statusTracker().getJobIdsForGroup("iceberg-rerun")) == []
