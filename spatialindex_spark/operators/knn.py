"""k-nearest neighbours by HEALPix ring-disc widening (SURVEY.md J4).

The reference's selection kernels (htm_select/htm_min, select.c) answer
kNN by widening a pruned tree search until it is satisfied
(htm.c:1582-1700 prunes, never full-scans). Both operators here widen a
ring-1 disc the same way, and both stop on the same certificate: a point
whose k-th candidate lies within the per-order SAFE ring-1 radius
(healpix.safe_ring1_rad, cf. sptQueryLib.c:1363-1382's dr[o] table) holds
its exact top-k, since every point that close shares a disc cell with it.

- :func:`knn` serves a small query frame against a big data table. The
  queries are broadcast into a cell equi-join with the data, one
  window rank picks the top k, and only starved queries probe wider
  shells (coarsening the level under a cell budget) until the certificate
  holds or the disc covers the sphere.
- :func:`knn_join` serves a big left table against a big right table
  (k nearest for EVERY left row). Each rung of its level ladder is one
  cell-local cogroup: left rows keyed by their cell, right rows by their
  ring-1 disc, and one vectorised numpy top-k per cell. Rows the rung
  cannot certify move to a rung two levels coarser.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..functions.geometry import RAD_PER_DEG
from ..functions.healpix import disc_lists, hpx_id, safe_ring1_rad
from .joins import _dot_sql, hpx_cell_key, ring_explode

#: per-rung row counts of the last knn_join call (introspection only)
_DECISIONS: dict = {}

# knn_join constants. Module-level, so probes and tests can patch them.
MAX_FINE_LEVEL = 16         # finest start rung auto_levels picks
START_CELL_ROWS = 64        # auto_levels: right rows per start-rung cell
PAIR_BUDGET = 1 << 24       # candidate pairs one cogroup group may hold
BLOCK_ENTRIES = 1 << 21     # dot-matrix entries one kernel block holds
GROUP_LEVELS = 2            # a cogroup group holds 4**GROUP_LEVELS cells


def _shell_udf(lvl: int, r_lo: int, r_hi: int):
    """pandas UDF: (ra, dec) -> the cells of disc(r_hi) \\ disc(r_lo)
    around the row's level-``lvl`` pixel (r_lo=0 => the whole disc
    including the center cell). Shells are disjoint across knn()'s
    widening rounds, so accumulated candidate pairs never duplicate."""

    @pandas_udf("array<long>")
    def _udf(ra: pd.Series, dec: pd.Series) -> pd.Series:
        pix = hpx_id(lvl, ra.values, dec.values)
        out = disc_lists(lvl, pix, r_hi)
        if r_lo > 0:
            out = [np.setdiff1d(a, b, assume_unique=True)
                   for a, b in zip(out, disc_lists(lvl, pix, r_lo))]
        return pd.Series(out, dtype=object)

    return _udf


def knn(queries: DataFrame, data: DataFrame, k: int,
        level: int | None = None, rings: int = 1,
        query_id: str = "query_id",
        q_cols=("ra", "dec"), d_cols=("ra", "dec"),
        max_radius_deg: float | None = None,
        tiebreak: str | None = None,
        cell_col: str | None = None,
        cell_level: int | None = None,
        max_rounds: int = 16) -> DataFrame:
    """k nearest data rows per query point.

    queries: small-ish DataFrame with ``query_id`` + ra/dec.
    data:    large DataFrame with ra/dec (+ any payload columns).

    Guarantee: every neighbor within the query's final verified radius is
    found; the widening loop grows the radius (x4 per round, starved
    queries only, coarsening the probe level under a bounded cell budget)
    until the query holds k verified candidates or the disc covers the
    sphere, so results are exact for every query (not just dense ones) —
    or it RAISES if max_rounds is exhausted first (never silently
    partial). Choose ``max_radius_deg`` to pick the level automatically
    and bound the search.

    When ``data`` carries an ingest-time nested-HPX cell column
    (``cell_col`` at ``cell_level``), the match key is a shiftright of it —
    the big side stays JVM-only (no Arrow roundtrip of 100 TB through
    Python), with an in-plan assert_true range guard (every row validated
    inside whole-stage codegen; no sampling job). The search level is
    capped at ``cell_level``.

    This stays on its broadcast widening path rather than knn_join's
    cogroup kernel: a cogroup shuffles the whole data table (nine times
    over, ring-exploded) into Python on every rung, where the broadcast
    equi-join here leaves the big side unshuffled and in the JVM, and only
    the starved queries' new shells are probed on later rounds. For a
    handful of queries against a big table that is the cheaper plan.
    """
    if level is None:
        if max_radius_deg is not None:
            r = max_radius_deg * RAD_PER_DEG
            level = 0
            while level < 13 and safe_ring1_rad(level + 1) >= r:
                level += 1
        else:
            level = 5
    use_cell = cell_col is not None and cell_level is not None
    if use_cell:
        level = min(level, cell_level)

    lvl = level
    qr, qd = q_cols
    dr, dd = d_cols

    if use_cell:
        dk = data.withColumn("_mc", hpx_cell_key(cell_col, cell_level, lvl))
    else:
        from ..functions.udfs import hpx_udf

        dk = data.withColumn("_mc", hpx_udf(lvl)(F.col(dr), F.col(dd)))

    dot = F.expr(_dot_sql("_qra", "_qdec", dr, dd))

    def probe(qdf: DataFrame, r_lo: int, r_hi: int,
              at_level: int) -> DataFrame:
        """Candidates in the shell disc(r_hi) \\ disc(r_lo) at ``at_level``
        (<= lvl): the data-side key is a shiftright of the level-``lvl``
        cell (nested parent = child >> 2/level), so a coarser probe never
        rescans through Python and never enumerates fine cells."""
        key = (F.col("_mc") if at_level == lvl
               else F.shiftright(F.col("_mc"), 2 * (lvl - at_level)))
        qk = qdf.select(
            F.col(query_id), "_qra", "_qdec",
            F.explode(_shell_udf(at_level, r_lo, r_hi)("_qra", "_qdec"))
            .alias("_pk"))
        p = (dk.withColumn("_pk", key)
             .join(F.broadcast(qk), "_pk").drop("_pk", "_mc")
             .withColumn("dist_deg", F.degrees(F.acos(
                 F.least(F.greatest(dot, F.lit(-1.0)), F.lit(1.0))))))
        if max_radius_deg is not None:
            p = p.filter(F.col("dist_deg") <= max_radius_deg)
        return p

    qmeta = queries.select(F.col(query_id),
                           F.col(qr).alias("_qra"), F.col(qd).alias("_qdec"))

    # pairs is consumed repeatedly (starved checks + final rank) but is tiny
    # (queries x disc candidates); persisting it means the big data table is
    # scanned once per widening round, not once per consumer. The cache is
    # released before returning — repeated knn() calls must not accumulate
    # CacheManager entries.
    from pyspark import StorageLevel
    pairs = probe(qmeta, 0, rings, lvl).persist(StorageLevel.MEMORY_AND_DISK)
    first_cache = pairs

    # widening state: verified radius in radians + the level/rings that
    # realize it. Each round TARGETS 4x the verified radius and, when the
    # ring disc at the current level would exceed CELL_BUDGET cells per
    # starved query, COARSENS the probe level instead of enumerating more
    # cells (the broadcast stays bounded: starved x <=CELL_BUDGET rows).
    # Level-0 fits any radius (<= ~169 cells), so the terminal full-sphere
    # probe is a 12-key equi-join — never a cell blow-up, never a cross join.
    CELL_BUDGET = 4096
    probe_level = lvl
    probe_r = rings
    vrad = rings * safe_ring1_rad(lvl)

    def plan_round(target_rad: float) -> tuple[int, int]:
        """Coarsest-necessary (level, rings) whose disc covers target_rad
        within CELL_BUDGET cells."""
        for cand in range(probe_level, -1, -1):
            r_need = max(1, math.ceil(target_rad / safe_ring1_rad(cand)))
            if (2 * r_need + 1) ** 2 <= CELL_BUDGET or cand == 0:
                return cand, r_need
        raise AssertionError("unreachable")

    for _ in range(max_rounds):
        vr_deg = vrad / RAD_PER_DEG
        counts = (pairs.filter(F.col("dist_deg") <= vr_deg)
                  .groupBy(query_id).agg(F.count(F.lit(1)).alias("_n")))
        starved = (qmeta.join(counts, query_id, "left")
                   .filter(F.coalesce(F.col("_n"), F.lit(0)) < k)
                   .drop("_n"))
        if vrad >= math.pi:
            break  # disc covers the sphere: complete by construction
        if max_radius_deg is not None and vr_deg >= max_radius_deg:
            break  # the bounded search disc is already fully verified
        if starved.limit(1).count() == 0:
            break
        target = min(vrad * 4.0, math.pi)
        new_level, new_r = plan_round(target)
        if new_level == probe_level:
            # same level: probe only the NEW shell (disjoint by
            # construction, pairs accumulate)
            delta = probe(starved, probe_r, new_r, new_level)
            pairs = pairs.unionByName(delta.select(*pairs.columns))
        else:
            # coarser level: cells overlap the finer ones spatially, so
            # REPLACE the starved queries' pairs wholesale with the full
            # coarse disc (supersedes everything they had) — no duplicate
            # (query, row) candidates can survive
            keep = pairs.join(F.broadcast(starved.select(query_id)),
                              query_id, "left_anti")
            repl = probe(starved, 0, new_r, new_level)
            pairs = keep.unionByName(repl.select(*pairs.columns))
        # single-chain union, lineage truncated every round (Spark 4.1
        # iterative-loop pathology: see operators/graph.py)
        pairs = pairs.localCheckpoint(eager=True)
        probe_level, probe_r = new_level, new_r
        vrad = new_r * safe_ring1_rad(new_level)
    else:
        # loop exhausted without reaching a provably-complete state: raise
        # ONLY if some query is still starved (silent partial results are
        # the failure mode this loop exists to prevent)
        bounded_done = (max_radius_deg is not None
                        and vrad / RAD_PER_DEG >= max_radius_deg)
        if vrad < math.pi and not bounded_done:
            vr_deg = vrad / RAD_PER_DEG
            counts = (pairs.filter(F.col("dist_deg") <= vr_deg)
                      .groupBy(query_id).agg(F.count(F.lit(1)).alias("_n")))
            still = (qmeta.join(counts, query_id, "left")
                     .filter(F.coalesce(F.col("_n"), F.lit(0)) < k))
            if still.limit(1).count() > 0:
                raise RuntimeError(
                    f"knn widening exhausted max_rounds={max_rounds} before "
                    f"the verified radius covered the sphere (level {lvl}); "
                    f"raise max_rounds — results would otherwise be "
                    f"silently partial")

    order = [F.col("dist_deg").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_id).orderBy(*order)

    out = (
        pairs.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .drop("_qra", "_qdec")
    )
    # k x queries rows: cheap to materialize; truncating lineage here lets
    # the pairs cache be dropped immediately instead of leaking per call
    out = out.localCheckpoint(eager=True)
    first_cache.unpersist()
    return out


def _topk_block(lv: tuple, rv: tuple, lc: np.ndarray, rc: np.ndarray,
                k: int, exclude_self: bool) -> tuple:
    """Top k right rows of each left row of one block.

    ``lv``/``rv`` are (x, y, z) unit-vector arrays, ``lc``/``rc`` integer
    codes of the ids, ordered like the ids. Returns ``(rows, cols, rank,
    kth)``: the kept (left, right) index pairs in (left, -dot, right id)
    order with their 1-based rank, and each left row's k-th largest dot
    (-inf below k candidates). Every candidate tied with the k-th dot
    enters the sort, so ties break on the right id exactly. The dot is
    elementwise ((x*x + y*y) + z*z), never BLAS: equal positions give
    bit-equal dots whatever their place in the block."""
    dot = np.multiply.outer(lv[0], rv[0])
    dot += np.multiply.outer(lv[1], rv[1])
    dot += np.multiply.outer(lv[2], rv[2])
    if exclude_self:
        dot[lc[:, None] == rc[None, :]] = -np.inf
    m = dot.shape[1]
    kth = (np.partition(dot, m - k, axis=1)[:, m - k] if m >= k
           else np.full(len(dot), -np.inf))
    rows, cols = np.nonzero(dot >= kth[:, None])
    d = dot[rows, cols]
    ok = d > -np.inf
    rows, cols, d = rows[ok], cols[ok], d[ok]
    o = np.lexsort((rc[cols], -d, rows))
    rows, cols = rows[o], cols[o]
    rank = np.arange(1, len(rows) + 1) - np.searchsorted(rows, rows)
    keep = rank <= k
    return rows[keep], cols[keep], rank[keep], kth


def _cell_topk(k: int, exclude_self: bool, min_dot: float, lcols: list):
    """Cogroup function of one rung. A group is a block of cells ``_c``,
    or one hash share of a hot cell: each cell's left rows meet the right
    rows keyed to that cell, i.e. the right rows of its ring-1 disc.

    A left row whose k-th dot is >= ``min_dot`` is answered: k rows with
    ``_rid`` and ``knn_rank``. Any other row comes back once, with
    ``knn_rank`` 0, a null ``_rid`` and its ``lcols``, for the next rung.
    ``_np`` carries the group's pair count. A cell's left rows are
    processed in blocks of at most BLOCK_ENTRIES dot products."""

    def run(lf: pd.DataFrame, rf: pd.DataFrame) -> pd.DataFrame:
        if lf.empty:
            return pd.DataFrame()
        lf, rf = (f.sort_values("_c", kind="stable") for f in (lf, rf))
        n = len(lf)
        # right id codes in id order, nulls (-1) first as Spark orders
        # them; a left id's code is its right id's, or -2 (equal to none)
        rc, ids = pd.factorize(rf["_rid"].to_numpy(), sort=True)
        lc = pd.Index(ids).get_indexer(lf["_lid"].to_numpy())
        lc[lc < 0] = -2
        lv = [lf[c].to_numpy() for c in ("_lx", "_ly", "_lz")]
        rv = [rf[c].to_numpy() for c in ("_rx", "_ry", "_rz")]
        rcell = rf["_c"].to_numpy()
        cells, l0 = np.unique(lf["_c"].to_numpy(), return_index=True)
        l1 = np.append(l0[1:], n)
        r0, r1 = (np.searchsorted(rcell, cells, side)
                  for side in ("left", "right"))
        sat, parts = np.empty(n, bool), []
        for a, b, c, d in zip(l0, l1, r0, r1):
            step = max(1, BLOCK_ENTRIES // max(d - c, 1))
            for s in range(a, b, step):
                e = min(s + step, b)
                rows, cols, rank, kth = _topk_block(
                    [x[s:e] for x in lv], [x[c:d] for x in rv], lc[s:e],
                    rc[c:d], k, exclude_self)
                sat[s:e] = kth >= min_dot
                keep = sat[s:e][rows]
                parts.append((rows[keep] + s, cols[keep] + c, rank[keep]))
        rows, cols, rank = (np.concatenate(p) for p in zip(*parts))
        rid = rf["_rid"].to_numpy()[cols]
        miss = np.flatnonzero(~sat)  # back once each, rank 0 and no _rid
        if len(miss):
            rows = np.concatenate([rows, miss])
            rank = np.concatenate([rank, np.zeros(len(miss), rank.dtype)])
            rid = np.concatenate([rid.astype(object), [None] * len(miss)])
        out = {c: lf[c].to_numpy()[rows] for c in lcols}
        out.update(_rid=rid, knn_rank=rank.astype(np.int32),
                   _np=np.full(len(rows), int((l1 - l0) @ (r1 - r0))))
        return pd.DataFrame(out)

    return run


def knn_join(left: DataFrame, right: DataFrame, k: int,
             level: int = 4,
             left_id: str = "left_id", right_id: str = "right_id",
             l_cols=("ra", "dec"), r_cols=("ra", "dec"),
             cell_col: str | None = None, cell_level: int | None = None,
             levels: tuple | None = None,
             auto_levels: bool = False,
             exclude_self: bool = False,
             on_starved: str = "raise") -> DataFrame:
    """k nearest ``right`` rows for EVERY ``left`` row, both sides big (the
    self-kNN / k-nearest-source-per-object statistic: the reference's ring
    pruning, htm.c:1582-1700, at table scale).

    Unlike :func:`knn`, which broadcasts a small query frame, neither side
    is broadcast. A RUNG is a probe level L, and each rung is one
    ``groupBy(cell).cogroup(...).applyInPandas`` pass: left rows are keyed
    by their level-L cell, right rows by every cell of their ring-1 disc
    (:func:`~.joins.ring_explode`: the broadcast ring map up to
    JVM_RING_MAX_LEVEL, one pandas UDF above). A cell so meets every
    right row within safe_ring1_rad(L) of its left rows, and one
    vectorised numpy pass computes the dot products in blocks of at most
    BLOCK_ENTRIES and keeps the top k per left row. A cogroup group holds
    the 4**GROUP_LEVELS sibling cells of one coarser parent and runs them
    cell by cell: each group costs Spark and Arrow a fixed few ms, which
    768 one-cell groups paid ~1 s of a 50k-row rung for. A left row is
    answered when its k-th dot is >= cos(safe_ring1_rad(L)): no uncovered
    point, being farther away, can enter its true top-k. Other rows carry
    themselves, one row each, to the next rung of the ladder, so duplicate
    left ids are answered row by row.

    RUNG LADDER. ``levels`` (default ``(level, level-2, 0)``), or under
    ``auto_levels=True`` a start rung L0 = floor(log4(n / (12 *
    START_CELL_ROWS))) from the right row count n (at most MAX_FINE_LEVEL
    and ``cell_level``), then every second level down to 0. Rows still
    unanswered after the last rung go to ``on_starved``: "raise" (the
    default; never silently partial) or "exact" (one more cogroup pass of
    those rows against every right row, without the radius test).

    HOT CELLS. A cell whose left rows times disc right rows pass
    PAIR_BUDGET would be quadratic in one task. One count job per rung
    (skipped when the rung's rows times all right rows stay under
    PAIR_BUDGET / 4**GROUP_LEVELS) finds every cell over that share of the
    budget. Such a cell leaves its block: its left rows split over S =
    ceil(pairs / PAIR_BUDGET) hash groups and its right rows replicate S
    times, so every pair still meets exactly once and no group holds much
    more than PAIR_BUDGET pairs.

    When both tables carry an ingest-time nested-HPX cell column
    (``cell_col`` at ``cell_level``), keys are shiftrights of it and the
    whole plan is JVM-only up to the cogroup at probe levels <=
    JVM_RING_MAX_LEVEL.

    Left rows with a null or NaN ra or dec (or, with ``cell_col``, a null
    cell) produce no output rows, and such right rows are never
    candidates. ``exclude_self`` drops candidates whose id equals the left
    row's id.

    Output: one row per (left row, rank): ``left_id``, ``right_id``,
    ``knn_rank`` (1-based, ordered by exact angular distance with
    ``right_id`` as the deterministic tiebreak). If the two id column
    names collide, suffixes ``_l``/``_r`` are appended. ``_DECISIONS``
    records each rung's rows in, rows answered, largest group pair count
    and split cells, and the starved row count.
    """
    from ..functions.udfs import hpx_udf

    if on_starved not in ("raise", "exact"):
        raise ValueError(f"unknown on_starved {on_starved!r}")
    if k < 1:
        raise ValueError("k must be >= 1")
    if auto_levels and levels is not None:
        raise ValueError("auto_levels=True replaces the fixed `levels` "
                         "ladder; pass one or the other")
    use_cell = cell_col is not None and cell_level is not None
    if use_cell:
        level = min(level, cell_level)
    if not auto_levels:
        ladder = tuple(dict.fromkeys(
            (level, max(level - 2, 0), 0) if levels is None else levels))
        if not ladder or max(ladder) > level:
            raise ValueError("levels must be a non-empty ladder of levels "
                             "<= the starting level")

    lr, ld = l_cols
    rr, rd = r_cols
    out_lid = left_id + "_l" if left_id == right_id else left_id
    out_rid = right_id + "_r" if left_id == right_id else right_id

    def _side(df, pre, id_col, ra, dec):
        """Id, ra, dec (and cell) of positioned rows, plus their unit
        vectors: computed in the JVM, so dot products, and the order of
        near-equal ones, match a JVM dot product bit for bit."""
        sel = df.select(
            F.col(id_col).alias(f"_{pre}id"),
            F.col(ra).cast("double").alias(f"_{pre}ra"),
            F.col(dec).cast("double").alias(f"_{pre}dec"),
            *([F.col(cell_col).cast("long").alias(f"_{pre}cell")]
              if use_cell else []))
        r, d = F.radians(f"_{pre}ra"), F.radians(f"_{pre}dec")
        return sel.dropna(subset=sel.columns[1:]).withColumns(
            {f"_{pre}x": F.cos(r) * F.cos(d),
             f"_{pre}y": F.sin(r) * F.cos(d), f"_{pre}z": F.sin(d)})

    lf = _side(left, "l", left_id, lr, ld)
    rk_base = _side(right, "r", right_id, rr, rd)
    lcols = lf.columns
    n_right = rk_base.count()
    if auto_levels:  # floor(log4(n / (12 * START_CELL_ROWS))), capped
        top = min(max((n_right // (12 * START_CELL_ROWS)).bit_length() - 1,
                      0) // 2, MAX_FINE_LEVEL,
                  cell_level if use_cell else MAX_FINE_LEVEL)
        ladder = tuple(dict.fromkeys(max(L, 0) for L in range(top, -2, -2)))
    # every field nullable: a pending row has no _rid
    schema = StructType([StructField(f.name, f.dataType) for f in
                         [*lf.schema.fields, rk_base.schema["_rid"]]]
                        + [StructField("knn_rank", IntegerType()),
                           StructField("_np", LongType())])

    def _pix(pre: str, lvl: int):
        if use_cell:
            return hpx_cell_key(f"_{pre}cell", cell_level, lvl)
        return hpx_udf(lvl)(F.col(f"_{pre}ra"), F.col(f"_{pre}dec"))

    def _rung(todo: DataFrame, lvl: int | None, n_todo: int | None):
        """One cogroup pass over ``todo`` at rung ``lvl`` (None: the exact
        pass, one group of every right row). Returns the kernel output and
        the number of split cells."""
        if lvl is None:
            lk = todo.withColumn("_c", F.lit(0).cast("long"))
            rk = rk_base.select("_rid", "_rx", "_ry", "_rz",
                                F.lit(0).cast("long").alias("_c"))
            min_dot = -math.inf
        else:
            lk = todo.withColumn("_c", _pix("l", lvl))
            rk = ring_explode(rk_base, _pix("r", lvl), lvl,
                              cols=["_rid", "_rx", "_ry", "_rz"]
                              ).withColumnRenamed("_mc", "_c")
            min_dot = math.cos(safe_ring1_rad(lvl))
        # a group is the block of 4**GROUP_LEVELS sibling cells under one
        # coarser parent (at most the 12 base pixels); a hot cell, one over
        # PAIR_BUDGET / 4**GROUP_LEVELS pairs, groups alone instead, its
        # left rows split over ceil(pairs / PAIR_BUDGET) hash shares and
        # its right rows replicated to each
        grp = F.shiftright("_c", 2 * min(GROUP_LEVELS, lvl or 0))
        cap = PAIR_BUDGET >> 2 * GROUP_LEVELS
        hot: dict = {}
        if n_todo is None or n_todo * n_right > cap:
            nl = F.sum("_l")  # a cell's left rows; the rest are disc rows
            hot = {r["_c"]: min(r["_nl"], -(-r["_np"] // PAIR_BUDGET))
                   for r in lk.select("_c", F.lit(1).alias("_l"))
                   .unionByName(rk.select("_c", F.lit(0).alias("_l")))
                   .groupBy("_c").agg(nl.alias("_nl"), (
                       nl * (F.count("_l") - nl)).alias("_np"))
                   .filter(F.col("_np") > cap).collect()}
        keys = ["_g"]
        if hot:
            ns = F.element_at(F.create_map(*[
                F.lit(v).cast(t) for c, s in sorted(hot.items())
                for v, t in ((c, "long"), (s, "int"))]), F.col("_c"))
            grp = F.when(ns.isNull(), grp).otherwise(-1 - F.col("_c"))
            ns = F.coalesce(ns, F.lit(1))
            lk = lk.withColumn("_s", F.pmod(F.xxhash64(*lcols),
                                            ns.cast("long")).cast("int"))
            rk = rk.withColumn("_s", F.explode(F.sequence(F.lit(0), ns - 1)))
            keys.append("_s")
        lk, rk = lk.withColumn("_g", grp), rk.withColumn("_g", grp)
        out = (lk.groupBy(*keys).cogroup(rk.groupBy(*keys))
               .applyInPandas(_cell_topk(k, exclude_self, min_dot, lcols),
                              schema))
        return out, sum(v > 1 for v in hot.values())

    _DECISIONS.clear()
    _DECISIONS.update(ladder=list(ladder), rungs=[], starved=0)
    outputs = []
    todo, n_todo = lf, None
    for lvl in ladder:
        res, n_split = _rung(todo, lvl, n_todo)
        res = res.localCheckpoint(eager=False)
        st = res.agg(F.sum((F.col("knn_rank") == 1).cast("long")),
                     F.sum((F.col("knn_rank") == 0).cast("long")),
                     F.max("_np")).first()
        n_sat, n_todo = st[0] or 0, st[1] or 0
        _DECISIONS["rungs"].append(dict(
            level=lvl, rows_in=n_sat + n_todo, satisfied=n_sat,
            max_group_pairs=st[2] or 0, split_cells=n_split))
        outputs.append(res.filter(F.col("knn_rank") > 0))
        if n_todo == 0:
            break
        todo = res.filter(F.col("knn_rank") == 0).select(*lcols)
    else:
        _DECISIONS["starved"] = n_todo
        if on_starved == "raise":
            raise RuntimeError(
                f"knn_join: {n_todo} left rows still starved after the "
                f"level-{ladder[-1]} pass; pass on_starved='exact' or add "
                "coarser levels — results would otherwise be partial")
        outputs.append(_rung(todo, None, n_todo)[0])
    return functools.reduce(DataFrame.unionByName, outputs).select(
        F.col("_lid").alias(out_lid), F.col("_rid").alias(out_rid),
        "knn_rank")

def verified_radius_deg(level: int, rings: int = 1) -> float:
    """Radius within which knn() results are guaranteed complete. Uses the
    measured SAFE ring-1 radius (healpix.safe_ring1_rad), not max_pix_rad:
    points at 0.66-1.0x max_pix_rad can land in non-adjacent cells, so the
    old bound silently over-promised (candidates could be missed without
    triggering the starved-query widening). Chain argument: any point
    within rings * safe is reachable through `rings` cell adjacencies."""
    return rings * safe_ring1_rad(level) / RAD_PER_DEG
