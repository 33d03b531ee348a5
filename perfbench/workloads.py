"""The benchmark workloads.

Each workload has the same life cycle:

1. ``generate``: seeded raw inputs (cached generator output, see gen.py)
   and the numpy reference data, outside every timer;
2. ``setup``: engine-derived tables and a warm-up pass on a small input of
   the same plan shape, timed together with the session start;
3. ``measure``: a closed loop with one client: the next operation starts
   when the previous one returns, until ``--seconds`` have passed and at
   least the workload's minimum set of operations has run. Every
   operation is checked against its reference after its timer stops.

Every workload reports the same end-to-end metrics. ``fast_op`` and
``slow_op`` name the workload's two operation kinds:

=============== ================ ============= ===================
workload        fast op          slow op       throughput unit
=============== ================ ============= ===================
archive_queries region query     cutout batch  requests per second
catalog_join    self crossmatch  self knn_join left rows per second
=============== ================ ============= ===================
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from . import gen
from . import reference as ref
from .trace import busy_cpu_s, cpu_ticks

LEVEL = 7


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def _log_bin(rng, lo: float, hi: float, b: int, bins: int) -> float:
    """A log-uniform draw from bin b of ``bins`` equal log bins over [lo, hi]."""
    a, z = math.log10(lo), math.log10(hi)
    return 10 ** (a + (b + rng.uniform()) * (z - a) / bins)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under path."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


@dataclass
class Op:
    """One measured operation and its outcome."""
    kind: str
    latency: float
    ok: bool
    rows_in: int = 0
    excluded: int = 0
    detail: str = ""
    cpu: float = 0.0  # host CPU seconds busy during the operation


class Workload:
    name = ""
    fast, slow = "", ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {}
        self.run_dir = ctx.run_dir
        self.stored = (0, 1)  # (bytes, rows) of the table the workload wrote

    # -- measured operations ------------------------------------------------
    def run_op(self, spark, kind: str, fn, check, rows_in: int = 0):
        """Time ``fn()`` as one operation tagged with its own Spark job
        group, then compare its result with ``check`` (untimed)."""
        ctx = self.ctx
        op_id = f"{kind}-{len(self.ops)}"
        self.tr.op = op_id
        ctx.jobs.begin(op_id, kind)
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}"):
                out = fn()
            dt, cpu = time.perf_counter() - t0, busy_cpu_s(c0, cpu_ticks())
        except Exception:
            dt, cpu = time.perf_counter() - t0, busy_cpu_s(c0, cpu_ticks())
            traceback.print_exc(file=sys.stderr)
            self.ops.append(Op(kind, dt, False, rows_in, detail="raised", cpu=cpu))
            return None
        finally:
            ctx.jobs.end()
            self.tr.op = None
        if ctx.plant_error and not any(o.kind == kind for o in self.ops):
            out = ctx.plant(out)
        try:
            c = check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            c = ref.Check(False, 0, "check raised")
        if not c.ok:
            print(f"MISMATCH {self.name} seed={ctx.seed} {op_id}: {c.detail}",
                  file=sys.stderr)
        self.ops.append(Op(kind, dt, c.ok, rows_in, c.excluded, c.detail, cpu))
        if ctx.trace:
            for k, v in ctx.jobs.counts(op_id).items():
                self.add(f"spark.{k}", v)
        return out

    def add(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + v

    def lat(self, kind: str) -> list[float]:
        return [o.latency for o in self.ops if o.kind == kind]

    def span_median(self, name: str) -> float:
        """Median duration of the spans called ``name`` inside measured
        operations (set-up and warm-up spans excluded)."""
        return _median([s.end - s.start for s in self.tr.spans
                        if s.name == name and s.op])

    # -- metrics ----------------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        fast, slow = self.lat(self.fast), self.lat(self.slow)
        busy = sum(o.latency for o in self.ops if o.kind in (self.fast, self.slow))
        return {
            "fast_op_p50_s": _median(fast),
            "slow_op_p50_s": _median(slow),
            "throughput_per_s": self.throughput(busy),
            "stored_bytes_per_row": self.stored[0] / max(1, self.stored[1]),
        }

    def throughput(self, busy: float) -> float:
        rows = sum(o.rows_in for o in self.ops if o.kind in (self.fast, self.slow))
        return rows / busy if busy else 0.0

    def report(self) -> list[str]:
        """Human-readable lines under the workload's own metric names."""
        return []


# =============================================================================
# archive_queries
# =============================================================================

class ArchiveQueries(Workload):
    """Interactive archive traffic: region queries and cutout requests over
    a table of images with pixel payloads."""

    name = "archive_queries"
    fast, slow = "region", "cutout"
    SIZES = {"full": 50_000, "tiny": 2_000}
    #: the cycle of region queries: (shape, location, size bin). Cone
    #: radii fall in 5 log bins over [1 arcsec, 5 deg], box half-widths in
    #: 3 log bins over [0.005, 2] deg. Runs are whole rounds of whole
    #: cycles, so every run has the same make-up and the seed only moves
    #: positions and sizes.
    REGION_CYCLE = [
        ("cone", "field", 0), ("cone", "hot", 2), ("polygon", "field", 1),
        ("cone", "field", 3), ("cone", "pole", 1), ("cone", "wrap", 4),
        ("polygon", "hot", 0), ("cone", "image", 0), ("cone", "field", 2),
        ("polygon", "wrap", 2)]
    REGIONS_PER_ROUND = 20    # two cycles
    CUTOUTS_PER_ROUND = 3     # spread evenly between the region queries
    TARGETS = 8               # targets per cutout request
    SIZE_PX = 8               # cutout window edge (px)
    #: warm-up in set-up: one cycle of region queries and this many full
    #: cutout requests, from their own seeded stream
    WARMUP_CUTOUTS = 2

    def generate(self):
        ctx = self.ctx
        n = self.SIZES[ctx.size]
        self.raw = gen.cached(ctx.work, "images", f"s{ctx.seed}-n{n}",
                              lambda: gen.make_images(ctx.seed, n))
        t = pq.read_table(os.path.join(self.raw, "data.parquet"))
        self.ids = t["image_id"].to_numpy()
        self.ra, self.dec = t["ra"].to_numpy(), t["dec"].to_numpy()
        self.w, self.h = t["w"].to_numpy(), t["h"].to_numpy()
        self.fmt = t["fmt"].to_pylist()
        self.payload = t["bytes"].to_pylist()
        self.xyz = ref.unit_vectors(self.ra, self.dec)
        self.hot = gen.HOT_SPOTS
        self.rng = np.random.default_rng([ctx.seed, 40])
        self.warm_rng = np.random.default_rng([ctx.seed, 41])

    # -- request generation -----------------------------------------------------
    def _center(self, rng, kind: str):
        if kind == "hot":
            hra, hdec = self.hot[int(rng.integers(2))]
            return (hra + rng.uniform(-0.03, 0.03)) % 360.0, hdec + rng.uniform(-0.03, 0.03)
        if kind == "pole":
            return rng.uniform(0, 360), float(rng.choice([-1, 1])) * rng.uniform(89.0, 89.99)
        if kind == "wrap":
            return rng.uniform(-0.5, 0.5) % 360.0, rng.uniform(-60, 60)
        if kind == "image":
            i = int(rng.integers(len(self.ids)))
            return float(self.ra[i]), float(self.dec[i])
        return rng.uniform(0, 360), math.degrees(math.asin(rng.uniform(-1, 1)))

    def next_region(self, i: int, rng=None) -> dict:
        """Region query i of the fixed cycle: its shape, location class and
        size bin come from REGION_CYCLE; the centre and the size inside
        the bin are seeded."""
        rng = self.rng if rng is None else rng
        shape, where, b = self.REGION_CYCLE[i % len(self.REGION_CYCLE)]
        ra, dec = self._center(rng, where)
        if shape == "polygon":
            dec = max(-80.0, min(80.0, dec))
            hw = _log_bin(rng, 0.005, 2.0, b, 3)
            hh = hw * rng.uniform(0.5, 1.0)
            dra = hw / math.cos(math.radians(dec))
            vra = [(ra - dra) % 360, (ra + dra) % 360, (ra + dra) % 360, (ra - dra) % 360]
            vdec = [dec - hh, dec - hh, dec + hh, dec + hh]
            return {"shape": "polygon", "ra": vra, "dec": vdec}
        return {"shape": "cone", "ra": ra, "dec": dec, "r": _log_bin(rng, 1 / 3600, 5.0, b, 5)}

    def next_targets(self, req: int, rng=None) -> list[tuple]:
        """TARGETS - 1 targets inside random images' footprints plus one in
        a hot spot (alternating spots): the same make-up every request."""
        rng = self.rng if rng is None else rng
        out = []
        for j in range(self.TARGETS - 1):
            i = int(rng.integers(len(self.ids)))
            half = 0.4 * self.w[i] * gen.SCALE_DEG_PX
            dec = float(self.dec[i] + rng.uniform(-half, half))
            ra = float((self.ra[i] + rng.uniform(-half, half)
                        / max(0.05, math.cos(math.radians(dec)))) % 360.0)
            out.append((req * self.TARGETS + j, ra, max(-89.99, min(89.99, dec))))
        hra, hdec = self.hot[req % 2]
        out.append((req * self.TARGETS + self.TARGETS - 1,
                    (hra + rng.uniform(-0.02, 0.02)) % 360.0, hdec + rng.uniform(-0.02, 0.02)))
        return out

    # -- engine calls --------------------------------------------------------------
    def setup(self, spark):
        from spatialindex_spark.functions.udfs import with_spatial_columns
        from spatialindex_spark.plans.session import write_clustered

        out = os.path.join(self.run_dir, "images_derived")
        with self.tr.span("setup.derive_table"):
            df = with_spatial_columns(spark.read.parquet(self.raw), level=LEVEL)
            write_clustered(df, out, "spt_ind", num_partitions=8)
            self.img = spark.read.parquet(out)
        self.stored = (_dir_bytes(out)[0], len(self.ids))
        with self.tr.span("setup.warmup"):
            # one cycle of the measured mix, from its own stream. After a
            # warm-up of one cone, one box and two 2-target cutouts, the
            # first measured cutouts ran ~30% and the first twenty region
            # queries ~25% slower than the later ones, so the run's medians
            # depended on how fast the JVM warmed up
            n = len(self.REGION_CYCLE)
            cut_at = {(k + 1) * n // self.WARMUP_CUTOUTS - 1 for k in range(self.WARMUP_CUTOUTS)}
            for j in range(n):
                self._region(spark, self.next_region(j, self.warm_rng))
                if j in cut_at:
                    self._cutout(spark, self.next_targets(j, self.warm_rng))

    def _region(self, spark, q):
        from spatialindex_spark import SpatialIndex

        si = SpatialIndex()
        with self.tr.span("functions.constraints.search"):
            if q["shape"] == "cone":
                c = si.cone_search(q["ra"], q["dec"], q["r"], mode=SpatialIndex.HTM,
                                   level=LEVEL, encoding=SpatialIndex.DECIMAL,
                                   colname="spt_ind", as_constraints=True)
            else:
                c = si.polygon_search(q["ra"], q["dec"], mode=SpatialIndex.HTM,
                                      level=LEVEL, encoding=SpatialIndex.DECIMAL,
                                      colname="spt_ind", as_constraints=True)
        if c.status:
            raise RuntimeError(f"constraint status {c.status}: {c.error_message}")
        with self.tr.span("spark.filter_collect"):
            rows = c.filter(self.img).select("image_id").collect()
        return c, [r[0] for r in rows]

    def _cutout(self, spark, targets):
        from spatialindex_spark.operators.cutouts import cutout_pixels, cutout_windows

        tg = spark.createDataFrame(targets, "target_id long, ra double, dec double")
        with self.tr.span("operators.cutouts.cutout_windows"):
            win = cutout_windows(
                tg, self.img.select("image_id", "ra", "dec", "w", "h", "hpx7"),
                gen.SCALE_DEG_PX, self.SIZE_PX, max_dim_px=max(gen.IMAGE_SIZES),
                cell_col="hpx7", cell_level=LEVEL).localCheckpoint(eager=True)
        with self.tr.span("operators.cutouts.cutout_pixels"):
            return cutout_pixels(self.img, win).collect()

    # -- checks ---------------------------------------------------------------------
    def check_region(self, q, got_ids):
        if q["shape"] == "cone":
            inside, amb = ref.cone(self.xyz, q["ra"], q["dec"], q["r"])
        else:
            inside, amb = ref.polygon(self.xyz, q["ra"], q["dec"])
        return ref.compare_sets(got_ids, self.ids[inside], self.ids[amb])

    def check_cutout(self, targets, rows):
        t = list(zip(*targets))
        want, amb = ref.cutout_windows(
            (np.array(t[0]), np.array(t[1]), np.array(t[2])),
            (self.ids, self.ra, self.dec, self.w, self.h),
            gen.SCALE_DEG_PX, self.SIZE_PX)
        got = {(int(r["target_id"]), int(r["image_id"])):
               (r["x0"], r["x1"], r["y0"], r["y1"]) for r in rows}
        c = ref.compare_sets(
            {(k, v) for k, v in got.items() if k not in amb},
            {(k, v) for k, v in want.items()}, ())
        if not c.ok or len(got) != len(rows):
            return ref.Check(False, len(amb), c.detail or "duplicate windows")
        pos = {int(i): j for j, i in enumerate(self.ids)}
        for r in rows:
            key = (int(r["target_id"]), int(r["image_id"]))
            if key in amb:
                continue
            j = pos[key[1]]
            img = ref.decode_image(self.payload[j], int(self.w[j]), int(self.h[j]), self.fmt[j])
            crop = img[r["y0"]:r["y1"], r["x0"]:r["x1"], :]
            if (bytes(r["data"]) != crop.tobytes() or r["cut_w"] != crop.shape[1]
                    or r["cut_h"] != crop.shape[0]):
                return ref.Check(False, len(amb), f"pixels differ for {key}")
        return ref.Check(True, len(amb & set(got)))

    # -- measurement -------------------------------------------------------------------
    def measure(self, spark, seconds: float):
        ctx = self.ctx
        deadline = time.perf_counter() + seconds
        ranges, cand, exact = [], 0, 0
        n_reg, n_cut = self.REGIONS_PER_ROUND, self.CUTOUTS_PER_ROUND
        cut_at = {(k + 1) * n_reg // n_cut - 1 for k in range(n_cut)}
        rounds = 0
        while rounds < ctx.min_rounds or time.perf_counter() < deadline:
            for j in range(n_reg):
                q = self.next_region(j)
                res = self.run_op(spark, "region", lambda: self._region(spark, q),
                                  lambda res: self.check_region(q, res[1]), rows_in=1)
                if ctx.trace and res is not None:
                    c, got = res
                    ranges.append(len(c.ranges))
                    # traced-only extra job: rows the coarse predicate keeps
                    cand += self.img.filter(c.index_column()).count()
                    exact += len(got)
                if j in cut_at:
                    tgts = self.next_targets(len(self.lat("cutout")))
                    rows = self.run_op(spark, "cutout", lambda: self._cutout(spark, tgts),
                                       lambda rows: self.check_cutout(tgts, rows), rows_in=1)
                    if ctx.trace and rows is not None:
                        self.add("cutouts.windows_out", len(rows))
                        self.add("cutouts.images_matched", len({r["image_id"] for r in rows}))
            rounds += 1
        if ctx.trace:
            self.layer.update({
                "cover.plan_s": self.span_median("functions.constraints.search"),
                "cover.ranges": _median(ranges),
                "cover.candidate_ratio": cand / exact if exact else 0.0,
                "cutouts.windows_s": self.span_median("operators.cutouts.cutout_windows"),
                "cutouts.pixels_s": self.span_median("operators.cutouts.cutout_pixels"),
            })

    def report(self):
        reg, cut = self.lat("region"), self.lat("cutout")
        return [f"region_p50_s {_median(reg):.4f} s (n={len(reg)})",
                f"region_p90_s {_quantile(reg, 0.9):.4f} s (n={len(reg)})",
                f"cutout_p50_s {_median(cut):.4f} s (n={len(cut)})",
                f"cutout_p80_s {_quantile(cut, 0.8):.4f} s (n={len(cut)})"]


# =============================================================================
# catalog_join
# =============================================================================

class CatalogJoin(Workload):
    """Batch jobs over a metadata catalog. Set-up runs the write path: the
    fused Arrow index UDF (``with_spatial_columns``) feeds the bucketed
    table writer (``IcebergLiteTable.write``); the measured operations are
    a self crossmatch and a self kNN join over the table it wrote."""

    name = "catalog_join"
    fast, slow = "crossmatch", "knn_join"
    #: (catalog rows, rows of the micro-batch appended in traced runs)
    SIZES = {"full": (50_000, 2_000), "tiny": (3_000, 200)}
    XM_RADIUS_DEG = 0.01
    K = 3
    NUM_BUCKETS = 16
    VERIFY_RADIUS_DEG = 2.0
    XMATCH_RUNS = 6   # measured crossmatches, after the kNN join

    def generate(self):
        ctx = self.ctx
        self.n, self.brows = self.SIZES[ctx.size]
        self.raw = gen.cached(ctx.work, "catalog", f"s{ctx.seed}-n{self.n}-b{self.brows}",
                              lambda: gen.make_catalog_batches(ctx.seed, self.n, 1, self.brows))
        parts = [pq.read_table(os.path.join(self.raw, f)) for f in ("bulk.parquet", "batch-0.parquet")]
        self.all_ids = np.concatenate([p["obj_id"].to_numpy() for p in parts])
        self.ra = np.concatenate([p["ra"].to_numpy() for p in parts])
        self.dec = np.concatenate([p["dec"].to_numpy() for p in parts])
        self.ids = self.all_ids[:self.n]
        self.xyz = ref.unit_vectors(self.ra[:self.n], self.dec[:self.n])
        self.hot = gen.HOT_SPOTS

    # -- engine calls ------------------------------------------------------------
    def _build(self, spark, raw_file, path):
        """The write path: index, write the bucketed table, read it back."""
        from spatialindex_spark.functions.udfs import with_spatial_columns
        from spatialindex_spark.sources.iceberg_lite import IcebergLiteTable

        shutil.rmtree(path, ignore_errors=True)
        tbl = IcebergLiteTable(path, cell_col=f"hpx{LEVEL}", system="hpx", level=LEVEL,
                               num_buckets=self.NUM_BUCKETS)
        with self.tr.span("functions.udfs.with_spatial_columns"):
            df = with_spatial_columns(spark.read.parquet(raw_file), level=LEVEL)
        with self.tr.span("sources.iceberg_lite.write"):
            tbl.write(df)
        with self.tr.span("sources.iceberg_lite.read"):
            cat = tbl.read(spark).select("obj_id", "ra", "dec", f"hpx{LEVEL}")
        return tbl, cat

    def setup(self, spark):
        path = os.path.join(self.run_dir, "catalog_table")
        bulk = os.path.join(self.raw, "bulk.parquet")
        t0 = time.perf_counter()
        with self.tr.span("setup.write_table"):
            self.tbl, self.cat = self._build(spark, bulk, path)
        write_s = time.perf_counter() - t0
        self.stored = (_dir_bytes(path)[0], self.n)
        # the table write is checked like a measured operation (untimed)
        c = self._check_cells(os.path.join(path, "data"), self.n)
        self.ops.append(Op("table_write", write_s, c.ok, self.n, 0, c.detail))
        if not c.ok:
            print(f"MISMATCH {self.name} seed={self.ctx.seed} table_write: {c.detail}",
                  file=sys.stderr)
        with self.tr.span("setup.warmup"):
            # the crossmatch itself, once: the plan Spark picks depends on
            # the input sizes, and after a warm-up on a small left side the
            # first measured crossmatches still ran 20-70% slower. The kNN
            # join gets no warm-up: its per-session one-time work (a ring map
            # per probe level) is part of the measured join, as in any batch
            # job that runs it once per session. Measured both ways at 50k
            # rows: cold 20.5-22.1 s over three seeds, after a warm-up
            # 9.5-12.2 s, with the warm-up itself costing ~24 s of set-up.
            self._xmatch()

    def _xmatch(self):
        from spatialindex_spark.operators.joins import crossmatch

        with self.tr.span("operators.joins.crossmatch"):
            df = crossmatch(self.cat, self.cat, self.XM_RADIUS_DEG, cell_col=f"hpx{LEVEL}",
                            cell_level=LEVEL)
            return df.select("obj_id_l", "obj_id_r").toPandas()

    def _knn(self):
        from spatialindex_spark.operators.knn import knn_join

        with self.tr.span("operators.knn.knn_join"):
            df = knn_join(self.cat, self.cat, k=self.K, auto_levels=True, left_id="obj_id",
                          right_id="obj_id", cell_col=f"hpx{LEVEL}", cell_level=LEVEL,
                          exclude_self=True, on_starved="exact")
            return df.toPandas()

    def _append(self, spark):
        from spatialindex_spark.functions.udfs import with_spatial_columns

        with self.tr.span("functions.udfs.with_spatial_columns"):
            df = with_spatial_columns(
                spark.read.parquet(os.path.join(self.raw, "batch-0.parquet")), level=LEVEL)
        with self.tr.span("sources.iceberg_lite.append_batch"):
            return self.tbl.append_batch(df, 0)

    def _verify_read(self, spark):
        from spatialindex_spark import SpatialIndex

        ra, dec = self.hot[0]
        with self.tr.span("functions.constraints.search"):
            c = SpatialIndex().cone_search(ra, dec, self.VERIFY_RADIUS_DEG,
                                           mode=SpatialIndex.HPX, level=LEVEL,
                                           encoding=SpatialIndex.DECIMAL,
                                           colname=f"hpx{LEVEL}", as_constraints=True)
        with self.tr.span("sources.iceberg_lite.read"):
            rows = c.filter(self.tbl.read(spark, c.ranges)).select("obj_id").collect()
        return c, [r[0] for r in rows]

    # -- checks -----------------------------------------------------------------------
    def _check_cells(self, files_dir, want_rows):
        """Row count, unique ids, and htm/hpx ids equal to the engine's
        numpy kernels run directly on the raw positions."""
        from spatialindex_spark.functions.geometry import radec_to_xyz
        from spatialindex_spark.functions.healpix import hpx_id
        from spatialindex_spark.functions.htm import htm_id

        t = pads.dataset(files_dir, format="parquet", partitioning="hive").to_table(
            columns=["obj_id", f"htm{LEVEL}", f"hpx{LEVEL}", "spt_ind"])
        got = t["obj_id"].to_numpy()
        if len(got) != want_rows or len(np.unique(got)) != len(got):
            return ref.Check(False, 0,
                             f"{len(got)} rows ({len(np.unique(got))} distinct), want {want_rows}")
        pos = np.minimum(np.searchsorted(self.all_ids, got), len(self.all_ids) - 1)
        if not np.array_equal(self.all_ids[pos], got):
            return ref.Check(False, 0, "unknown ids")
        x, y, z = radec_to_xyz(self.ra[pos], self.dec[pos])
        htm, hpx = htm_id(x, y, z, LEVEL), hpx_id(LEVEL, self.ra[pos], self.dec[pos])
        bad = ((t[f"htm{LEVEL}"].to_numpy() != htm) | (t[f"hpx{LEVEL}"].to_numpy() != hpx)
               | (t["spt_ind"].to_numpy() != htm))
        return ref.Check(not bad.any(), 0,
                         f"{int(bad.sum())} rows with wrong cell ids" if bad.any() else "")

    def check_xmatch(self, pdf):
        if not hasattr(self, "_pairs"):
            self._pairs = ref.pairs_within(self.xyz, self.ids, self.XM_RADIUS_DEG)
        inside, amb = self._pairs
        got = list(zip(pdf["obj_id_l"].tolist(), pdf["obj_id_r"].tolist()))
        c = ref.compare_sets(got, map(tuple, inside.tolist()), map(tuple, amb.tolist()))
        if c.ok and len(got) != len(set(got)):
            return ref.Check(False, c.excluded, "duplicate pairs")
        return c

    def check_knn(self, pdf):
        if not hasattr(self, "_top"):
            self._top = ref.knn_self(self.xyz, self.ids, self.K)
        top, amb = self._top
        n = len(self.ids)
        if len(pdf) != self.K * n:
            return ref.Check(False, 0, f"{len(pdf)} rows, want {self.K * n}")
        pos = np.searchsorted(self.ids, pdf["obj_id_l"].to_numpy())
        rank = pdf["knn_rank"].to_numpy() - 1
        if rank.min() < 0 or rank.max() >= self.K:
            return ref.Check(False, 0, "rank out of range")
        got = np.full((n, self.K), -1, dtype=np.int64)
        got[pos, rank] = pdf["obj_id_r"].to_numpy()
        bad = (got != top).any(axis=1) & ~amb
        detail = ""
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            detail = (f"{int(bad.sum())} rows differ, e.g. obj {int(self.ids[i])}: "
                      f"got {got[i].tolist()} want {top[i].tolist()}")
        return ref.Check(not bad.any(), int(amb.sum()), detail)

    def check_verify(self, res):
        xyz = ref.unit_vectors(self.ra, self.dec)
        inside, amb = ref.cone(xyz, *self.hot[0], self.VERIFY_RADIUS_DEG)
        return ref.compare_sets(res[1], self.all_ids[inside], self.all_ids[amb])

    # -- measurement --------------------------------------------------------------------
    def measure(self, spark, seconds: float):
        deadline = time.perf_counter() + seconds
        # the kNN join first, then the crossmatches: each repeat of the
        # crossmatch still runs faster than the one before (the JVM keeps
        # compiling), and the ones after the join sit on the flatter part
        # of that curve
        plan = ["knn_join"] + ["crossmatch"] * self.XMATCH_RUNS
        i = 0
        while i < len(plan) or time.perf_counter() < deadline:
            kind = plan[i] if i < len(plan) else "crossmatch"
            if kind == "crossmatch":
                pdf = self.run_op(spark, kind, self._xmatch,
                                  self.check_xmatch, rows_in=self.n)
                if self.ctx.trace and pdf is not None:
                    self.layer["joins.pairs_out"] = float(len(pdf))
            else:
                pdf = self.run_op(spark, kind, self._knn,
                                  self.check_knn, rows_in=self.n)
                if self.ctx.trace and pdf is not None:
                    self.layer["knn.rows_out"] = float(len(pdf))
                    self.layer["knn.left_rows"] = float(self.n)
            i += 1
        if self.ctx.trace:
            self._write_path_layers(spark)

    def _write_path_layers(self, spark):
        """Traced runs only, after the measured operations: one micro-batch
        append and one covering read of the table (both checked), and the
        Arrow index UDF against pure-JVM x,y,z over the same rows, both
        fully materialised through the no-op sink."""
        from spatialindex_spark.functions.udfs import with_spatial_columns, with_xyz

        path = self.tbl.path
        self.run_op(spark, "append", lambda: self._append(spark),
                    lambda m: self._check_cells(
                        os.path.join(path, "data-stream", "batch=0"), self.brows),
                    rows_in=self.brows)
        res = self.run_op(spark, "verify_read", lambda: self._verify_read(spark),
                          self.check_verify)
        if res is not None:
            self.layer["iceberg.buckets_read_frac"] = (
                len(self.tbl.stat_pruned_buckets(res[0].ranges)) / self.NUM_BUCKETS)
        raw = spark.read.parquet(os.path.join(self.raw, "bulk.parquet"))
        t0 = time.perf_counter()
        with_spatial_columns(raw, level=LEVEL).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        with_xyz(raw).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        b, f = _dir_bytes(os.path.join(path, "data"))
        self.layer.update({
            "joins.crossmatch_s": self.span_median("operators.joins.crossmatch"),
            "knn.join_s": self.span_median("operators.knn.knn_join"),
            "iceberg.write_s": self._setup_write_s(),
            "iceberg.bytes_written": float(b),
            "iceberg.files_written": float(f),
            "iceberg.append_s": self.span_median("sources.iceberg_lite.append_batch"),
            "udfs.index_stage_s": t1 - t0,
            "udfs.xyz_stage_s": t2 - t1,
            "udfs.boundary_s": (t1 - t0) - (t2 - t1),
        })

    def _setup_write_s(self) -> float:
        """The catalog table's write span in set-up."""
        ws = [s for s in self.tr.spans
              if s.name == "sources.iceberg_lite.write" and s.op is None]
        return (ws[0].end - ws[0].start) if ws else 0.0

    def report(self):
        xm, kj = self.lat("crossmatch"), self.lat("knn_join")
        w = self.lat("table_write")
        return [f"xmatch_rows_per_s {self.n / _median(xm) if xm else 0:.1f} 1/s (n={len(xm)})",
                f"knn_join_rows_per_s {self.n / _median(kj) if kj else 0:.1f} 1/s (n={len(kj)})",
                f"ingest_rows_per_s {self.n / _median(w) if w else 0:.1f} 1/s "
                f"(n={len(w)}, index + bucketed write in set-up)",
                f"stored_bytes_per_row {self.stored[0] / max(1, self.stored[1]):.2f} bytes"]


WORKLOADS = {w.name: w for w in (ArchiveQueries, CatalogJoin)}


# =============================================================================
# layer kernels without Spark (traced runs)
# =============================================================================

def kernel_metrics(seed: int) -> dict[str, float]:
    """Per-row cost of the cell kernels and per-image cost of the payload
    decoders, each over a fixed in-memory batch, median of 5 passes."""
    from spatialindex_spark.functions.geometry import radec_to_xyz
    from spatialindex_spark.functions.healpix import hpx_id
    from spatialindex_spark.functions.htm import htm_id
    from spatialindex_spark.sources import imaging

    def median_time(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    n = 200_000
    ra, dec = gen.sky_positions(seed, n, stream=90)
    x, y, z = radec_to_xyz(ra, dec)
    out = {"kernel.htm_ns_per_row": median_time(lambda: htm_id(x, y, z, LEVEL)) / n * 1e9,
           "kernel.hpx_ns_per_row": median_time(lambda: hpx_id(LEVEL, ra, dec)) / n * 1e9}
    rng = np.random.default_rng([seed, 91])
    size, m = max(gen.IMAGE_SIZES), 300
    imgs = gen._images_of_size(rng, m, size)
    win = [(size // 2 - 4, size // 2 + 4, size // 2 - 4, size // 2 + 4)]
    for fmt in gen.IMAGE_FMTS:
        payloads = gen._encode_many(imgs, fmt)
        t = median_time(lambda: [imaging.decode_windows(p, size, size, fmt, win, channel=None)
                          for p in payloads])
        out[f"imaging.decode_us_per_image.{fmt}"] = t / m * 1e6
    return out
