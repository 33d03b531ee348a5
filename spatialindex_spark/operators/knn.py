"""k-nearest-neighbors via iterative cell-ring expansion (SURVEY.md J4).

The reference's selection kernels (htm_select/htm_min, select.c) solve the
single-node top-k problem by pruning a tree search that widens until
satisfied (htm.c:1582-1700 prunes, never full-scans). The distributed
analogue:

1. every query point gets its HPX cell + its ring-``rings`` neighbor disc
   (ring-r cells via exact nested adjacency, bounded by the per-order SAFE
   ring-1 radius — cf. sptQueryLib.c:1363-1382's dr[o] table);
2. candidates = data rows in any disc cell, joined on the cell key
   (broadcast hash join — the query side is small);
3. exact angular distance + Window.partitionBy(query).orderBy(dist)
   rank <= k;
4. queries that do NOT hold k candidates within the *verified* radius
   (sparse regions, k above local density) iteratively widen: each round
   targets 4x the verified radius, probing ONLY the starved queries' NEW
   shell cells through the same broadcast hash equi-join. When the ring
   disc at the current level would exceed a bounded cell budget, the probe
   level COARSENS instead (the data key is a shiftright of the fine cell),
   so the broadcast never exceeds starved x budget rows; the terminal
   full-sphere state is a 12-key level-0 equi-join — NEVER a full-table
   CartesianProduct/BroadcastNestedLoopJoin and never a cell blow-up
   (tests assert exactness on starved fixtures at fine levels and the
   absence of any cross join).

The ring radius guarantees correctness: ring r covers every point within
r * safe_ring1_rad, so a query stops expanding once it holds k candidates
within the verified radius. For the common bounded-k use the default
start_ring already suffices and the plan is a single broadcast join + one
window.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from ..functions.geometry import RAD_PER_DEG
from ..functions.healpix import disc_lists, hpx_id, safe_ring1_rad
from .joins import hpx_cell_key, ring_explode

# last knn_join auto decisions, for probe/test introspection only
_DECISIONS: dict = {}

# knn_join tuning constants. Module-level, so probes and tests can patch them.
OVERSAMPLE = 2.0               # start rung holds k + OVERSAMPLE*sqrt(k) rows
MAX_FINE_LEVEL = 16            # finest probe level the density profile assigns
PRUNE_MAX_ACTIVE = 200_000     # rungs this small semi-prune the right side
MIN_CNT = 48                   # stable profile cell count (~14% Poisson error)
REFINE_CNT = 4 * MIN_CNT       # the drill-down refines only cells this hot ...
TOP_REFINE = 8192              # ... and at most this many of them per step
DRILL_CKPT_MAX = 8_000_000     # drill survivors are checkpointed up to this
DRILL_COLLECT_MAX = 4_000_000  # hot-cell mass the drill finishes in numpy
RESIDUAL_HOT = 4000            # finest-grid cell size that gets salted
SALT_TARGET = 2000             # right rows per salt group
MERGE_PAIR_BUDGET = 8_000_000  # extra pairs a sparse-rung fold may add
SAT_BC_MAX = 4_000_000         # satisfied sets broadcast into semi/anti joins


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

    rad = F.radians
    dot = (
        F.cos(rad(F.col("_qdec"))) * F.cos(rad(F.col(dd)))
        * F.cos(rad(F.col("_qra")) - rad(F.col(dr)))
        + F.sin(rad(F.col("_qdec"))) * F.sin(rad(F.col(dd)))
    )

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


def _vr_deg(level: int) -> float:
    """Verified ring-1 radius of a probe level, in degrees."""
    return safe_ring1_rad(level) / RAD_PER_DEG


def _cell_area(level: int) -> float:
    return 41252.96124941928 / (12 << (2 * level))  # sq deg per cell


def _rung_density(k: int, level: int) -> float:
    """Density (rows / sq deg) at which a row's verified disc at ``level``
    is expected to hold ``k + OVERSAMPLE * sqrt(k)`` rows."""
    need = k + OVERSAMPLE * math.sqrt(k)
    return need / (math.pi * _vr_deg(level) ** 2)


def _union_all(frames: list) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


def _first_when(cases, default: Column) -> Column:
    """CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ... ELSE default END."""
    out = None
    for cond, val in cases:
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return default if out is None else out.otherwise(default)


def _density_profile(lf: DataFrame, rk_base: DataFrame, k: int,
                     cell_level: int | None):
    """Start rung ``_albl`` for every left row of an auto_levels knn_join.

    The right side is counted once per cell at a reference level capped at
    JVM_RING_MAX_LEVEL, so the counts frame holds at most 12*4^8 rows
    whatever the table size; coarser grids are shiftright rollups of it.
    One global grid cannot serve a skewed sky: too coarse and a clump's
    density dilutes over its big cell, too fine and the sparse field's
    counts are 0/1 Poisson noise. So each left row reads its density from
    the FINEST grid whose count is stable (>= MIN_CNT).

    A clump smaller than a reference cell still dilutes, so below the
    reference grid the profile drills down two levels at a time, inside
    hot cells only (>= REFINE_CNT rows, at most TOP_REFINE per step). Every
    counts frame therefore stays bounded at any table size. The hot cells'
    row count is known up front: when it fits DRILL_COLLECT_MAX their keys
    are collected once and the drill finishes in numpy with no further
    Spark jobs; above it, a distributed loop runs the same refinement at
    about four Spark jobs per step.

    Each row starts on the finest even rung whose verified disc is expected
    to hold ``k + OVERSAMPLE * sqrt(k)`` rows at its density: enough to be
    satisfied with high Poisson probability and no more, since each rung
    coarser costs 16x the candidate pairs. The rung only shapes cost; the
    sweep's satisfaction check keeps the result exact.

    Returns ``(todo, finest, finest_level)``: ``lf`` plus ``_albl``
    (checkpointed), and the finest counts frame (``_dc``, ``_dn``) with
    its level.
    """
    from ..functions.udfs import hpx_udf
    from .joins import JVM_RING_MAX_LEVEL

    spark = lf.sparkSession
    use_cell = cell_level is not None
    even_top = MAX_FINE_LEVEL - MAX_FINE_LEVEL % 2
    ref_top = (min(cell_level, JVM_RING_MAX_LEVEL) if use_cell
               else JVM_RING_MAX_LEVEL)
    refs = list(range(ref_top, -1, -2))  # finest ... coarsest

    def _key_at(cell: str, fine: str, R: int) -> Column:
        """Level-R key from the ingest cell column, or a shiftright of the
        level-even_top key column ``fine``."""
        if use_cell and R <= cell_level:
            return hpx_cell_key(cell, cell_level, R)
        return F.shiftright(fine, 2 * (even_top - R))

    def _hpx(ra: str, dec: str, R: int) -> Column:
        return hpx_udf(R)(F.col(ra), F.col(dec))

    rref = (hpx_cell_key("_rcell", cell_level, ref_top) if use_cell
            else _hpx("_rra", "_rdec", ref_top))
    lref = (hpx_cell_key("_lcell", cell_level, ref_top) if use_cell
            else _hpx("_lra", "_ldec", ref_top))
    counts_top = (rk_base.groupBy(rref.alias("_dc"))
                  .agg(F.count(F.lit(1)).alias("_dn"))
                  .localCheckpoint(eager=True))

    fine_grids: list = []  # [(level, counts_df)], finest last
    cur, lvlp = counts_top, ref_top
    drill_done = lvlp + 2 > even_top
    if not drill_done:
        hot0 = (counts_top.filter(F.col("_dn") >= REFINE_CNT)
                .orderBy(F.col("_dn").desc()).limit(TOP_REFINE).collect())
        drill_done = not hot0  # no refinable cell anywhere
    if not drill_done and sum(r["_dn"] for r in hot0) <= DRILL_COLLECT_MAX:
        hdf = spark.createDataFrame([(int(r["_dc"]),) for r in hot0],
                                    "_hc long")
        if use_cell:
            # prune on the ingest cell column (ref_top <= cell_level), so
            # only survivors reach the key UDF
            keyed = (rk_base.join(
                F.broadcast(hdf),
                hpx_cell_key("_rcell", cell_level, ref_top) == F.col("_hc"),
                "left_semi")
                .select((hpx_cell_key("_rcell", cell_level, even_top)
                         if even_top <= cell_level
                         else _hpx("_rra", "_rdec", even_top)).alias("_k")))
        else:
            keyed = (rk_base.withColumn("_k", _hpx("_rra", "_rdec", even_top))
                     .join(F.broadcast(hdf),
                           F.shiftright("_k", 2 * (even_top - ref_top))
                           == F.col("_hc"), "left_semi")
                     .select("_k"))
        keys = keyed.toPandas()["_k"].to_numpy().astype(np.int64)
        hot = np.array([int(r["_dc"]) for r in hot0], dtype=np.int64)
        while lvlp + 2 <= even_top and hot.size:
            nxt = lvlp + 2
            keys = keys[np.isin(keys >> np.int64(2 * (even_top - lvlp)), hot)]
            cells, cnts = np.unique(keys >> np.int64(2 * (even_top - nxt)),
                                    return_counts=True)
            keep = cnts >= MIN_CNT
            cells, cnts = cells[keep], cnts[keep]
            if cells.size == 0:
                break
            cur, lvlp = spark.createDataFrame(
                pd.DataFrame({"_dc": cells.astype(np.int64),
                              "_dn": cnts.astype(np.int64)}),
                "_dc long, _dn long"), nxt
            fine_grids.append((lvlp, cur))
            hm = cnts >= REFINE_CNT
            hot = cells[hm][np.argsort(-cnts[hm], kind="stable")[:TOP_REFINE]]
        drill_done = True

    def _with_rf(df: DataFrame, R: int) -> DataFrame:
        if "_rf" in df.columns or (use_cell and R <= cell_level):
            return df
        return df.withColumn("_rf", _hpx("_rra", "_rdec", even_top))

    srv = rk_base  # right rows inside the current hot cells
    while not drill_done and lvlp + 2 <= even_top:
        nxt = lvlp + 2
        hot = (cur.filter(F.col("_dn") >= REFINE_CNT)
               .orderBy(F.col("_dn").desc()).limit(TOP_REFINE)
               .select(F.col("_dc").alias("_hc"), "_dn")
               .localCheckpoint(eager=True))
        # one small collect answers emptiness and gives the exact survivor
        # count for the checkpoint gate
        hot_rows = hot.select("_dn").collect()
        if not hot_rows:
            break
        # prune on a JVM key first (the ingest cell column, or _rf from an
        # earlier step), then key the survivors
        srv = _with_rf(_with_rf(srv, lvlp).join(
            F.broadcast(hot.select("_hc")),
            _key_at("_rcell", "_rf", lvlp) == F.col("_hc"), "left_semi"), nxt)
        # otherwise each step rescans the full table through the lazy chain;
        # above the cap the chain stays lazy rather than materialise an
        # unbounded frame
        if sum(r["_dn"] for r in hot_rows) <= DRILL_CKPT_MAX:
            srv = srv.localCheckpoint(eager=True)
        fine = (srv.groupBy(_key_at("_rcell", "_rf", nxt).alias("_dc"))
                .agg(F.count(F.lit(1)).alias("_dn"))
                .filter(F.col("_dn") >= MIN_CNT)
                .localCheckpoint(eager=True))
        if fine.limit(1).count() == 0:
            break
        fine_grids.append((nxt, fine))
        cur, lvlp = fine, nxt

    todo = lf.withColumn("_p", lref)
    if fine_grids and not (use_cell and fine_grids[-1][0] <= cell_level):
        todo = todo.withColumn("_pf", _hpx("_lra", "_ldec", even_top))
    grids = [(R, _key_at("_lcell", "_pf", R), cdf) for R, cdf in fine_grids]
    grids += [(R, F.shiftright("_p", 2 * (ref_top - R)),
               counts_top if R == ref_top else
               counts_top.groupBy(
                   F.shiftright("_dc", 2 * (ref_top - R)).alias("_dc"))
               .agg(F.sum("_dn").alias("_dn"))) for R in refs]
    for R, key, cdf in grids:
        cdf = cdf.select(F.col("_dc").alias(f"_dc{R}"),
                         F.col("_dn").alias(f"_dn{R}"))
        todo = (todo.withColumn(f"_dc{R}", key)
                .join(F.broadcast(cdf), f"_dc{R}", "left"))
    refs_all = sorted((R for R, _, _ in grids), reverse=True)

    def cnt(R):
        return F.coalesce(F.col(f"_dn{R}"), F.lit(0)).cast("double")

    def dens(R):
        return cnt(R) / F.lit(_cell_area(R))

    # rows / sq deg at the finest stable grid
    d = _first_when(((cnt(R) >= MIN_CNT, dens(R)) for R in refs_all),
                    dens(refs[-1]))
    albl = _first_when(((d >= _rung_density(k, L), L)
                        for L in range(even_top, 0, -2)), F.lit(0))
    todo = (todo.withColumn("_albl", albl)
            .drop("_p", "_pf", *[f"_d{c}{R}" for c in "cn" for R in refs_all])
            .localCheckpoint(eager=True))
    return todo, cur, lvlp


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
    is broadcast: both are keyed at a probe level and the candidate join is
    a shuffled cell equi-join (plan-asserted in tests). Each left row
    explodes into its ring-1 disc (:func:`~.joins.ring_explode`: the
    broadcast ring map up to JVM_RING_MAX_LEVEL, the only broadcast in the
    plan, and one pandas UDF above), so every pair within the level's
    verified radius shares a key.

    RUNG LADDER. A rung is a probe level, and the ladder is the descending
    list of them: ``levels`` (default ``(level, level-2, 0)``), or under
    ``auto_levels=True`` every even level from MAX_FINE_LEVEL down to 0.
    A left row is SATISFIED on rung L when its k-th candidate lies within
    safe_ring1_rad(L): no uncovered point, being farther away, can enter
    its true top-k. Every left row starts on a rung: ``levels[0]``, or
    under ``auto_levels`` the finest rung its local density supports (see
    :func:`_density_profile`), so a dense clump probes fine cells and the
    sparse field coarse ones. Each sweep serves all outstanding rungs in
    one job (one union branch per rung, one rank window, satisfaction check
    and anti-join over the union) and moves every unsatisfied row to the
    next rung of the ladder, where its candidates are recomputed wholesale,
    so pairs never duplicate. Rows still unsatisfied on the last rung go to
    ``on_starved``: "raise" (the default; never silently partial) or
    "exact" (a labeled crossJoin of just those rows against ``right``;
    they are the sparse tail, so the product stays small).

    SPARSE-RUNG FOLDING. A rung holding a few rows folds into the next
    outstanding rung when its extra pair count (rows x profile density
    bound x the target rung's disc area) stays under MERGE_PAIR_BUDGET,
    saving a union branch and its right-side keying. A coarser probe only
    widens the candidate set and the verified radius, so folding never
    changes the result. The bound is exact where the drill-down measured
    and heuristic where it stopped refining. Without a density profile
    the bound is infinite and nothing folds.

    RESIDUAL EXTREME KEYS. A clump inside ONE cell of the profile's finest
    grid cannot be split by probing finer, and its count^2 pairs would be
    enumerated inside one join task. Under ``auto_levels`` every such cell
    of at least RESIDUAL_HOT rows is salted: its right rows hash into
    ceil(count / SALT_TARGET) groups and its left rows replicate across
    them, so every (l, r) pair still occurs exactly once while the work
    splits over the groups. The rank needs no salt-aware change: Spark
    plans the rank filter as a WindowGroupLimit with a partial pass
    map-side, so each task forwards at most k rows per left row
    (plan-asserted in tests).

    When both tables carry an ingest-time nested-HPX cell column
    (``cell_col`` at ``cell_level``), keys are shiftrights of it and the
    whole plan is JVM-only at probe levels <= JVM_RING_MAX_LEVEL.

    Left rows with a null or NaN ra or dec produce no output rows, and
    right rows with one are never candidates.

    Output: one row per (left row, rank): ``left_id``, ``right_id``,
    ``knn_rank`` (1-based, ordered by exact angular distance with
    ``right_id`` as the deterministic tiebreak). If the two id column
    names collide, suffixes ``_l``/``_r`` are appended.
    """
    from ..functions.udfs import hpx_udf

    if on_starved not in ("raise", "exact"):
        raise ValueError(f"unknown on_starved {on_starved!r}")
    if auto_levels and levels is not None:
        raise ValueError("auto_levels=True replaces the fixed `levels` "
                         "ladder; pass one or the other")
    use_cell = cell_col is not None and cell_level is not None
    if use_cell:
        level = min(level, cell_level)
    if auto_levels:
        ladder = tuple(range(MAX_FINE_LEVEL - MAX_FINE_LEVEL % 2, -1, -2))
    else:
        ladder = tuple(dict.fromkeys(
            (level, max(level - 2, 0), 0) if levels is None else levels))
        if not ladder or max(ladder) > level:
            raise ValueError("levels must be a non-empty ladder of levels "
                             "<= the starting level")
    last = ladder[-1]
    next_rung = dict(zip(ladder, ladder[1:]))

    lr, ld = l_cols
    rr, rd = r_cols
    out_lid = left_id + "_l" if left_id == right_id else left_id
    out_rid = right_id + "_r" if left_id == right_id else right_id

    lf = (left.select(F.col(left_id).alias("_lid"),
                      F.col(lr).alias("_lra"), F.col(ld).alias("_ldec"),
                      *([F.col(cell_col).alias("_lcell")] if use_cell else []))
          .dropna(subset=["_lra", "_ldec"]))
    rk_base = (right.select(F.col(right_id).alias("_rid"),
                            F.col(rr).alias("_rra"), F.col(rd).alias("_rdec"),
                            *([F.col(cell_col).alias("_rcell")]
                              if use_cell else []))
               .dropna(subset=["_rra", "_rdec"]))

    # ``_dist`` holds the NEGATED pair cosine, not the angle: acos is
    # strictly decreasing, so orderings and thresholds on -dot are exactly
    # those on the angular distance, at 3 multiplies + 2 adds per pair from
    # precomputed unit vectors. No distance column is ever output.
    xyz_dot = (F.col("_lx") * F.col("_rx") + F.col("_ly") * F.col("_ry")
               + F.col("_lz") * F.col("_rz"))

    def _with_xyz(df: DataFrame, pre: str, ra_c: str, dec_c: str) -> DataFrame:
        cr, cd = F.radians(F.col(ra_c)), F.radians(F.col(dec_c))
        return df.withColumns({f"{pre}x": F.cos(cr) * F.cos(cd),
                               f"{pre}y": F.sin(cr) * F.cos(cd),
                               f"{pre}z": F.sin(cd)})

    def _all_pairs(rows: DataFrame) -> DataFrame:
        return (_with_xyz(rows, "_l", "_lra", "_ldec")
                .crossJoin(_with_xyz(rk_base, "_r", "_rra", "_rdec")))

    def rank_topk(cand: DataFrame) -> DataFrame:
        """Top-k per left row by (_dist, _rid). A ``_vr`` column (the row's
        rung radius as a negated cosine) drops farther candidates before
        the window. That is safe: a row's output is kept only when its k-th
        candidate lies within vr, and then so does its whole true top-k."""
        if exclude_self:
            cand = cand.filter(F.col("_lid") != F.col("_rid"))
        cand = cand.withColumn("_dist", -xyz_dot)
        if "_vr" in cand.columns:
            cand = cand.filter(F.col("_dist") <= F.col("_vr"))
        # project before the rank exchange: coordinates and _vr would
        # otherwise ride the shuffle as dead weight
        w = Window.partitionBy("_lid").orderBy(F.col("_dist").asc(),
                                               F.col("_rid").asc())
        return (cand.select("_lid", "_rid", "_dist")
                .withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k))

    if auto_levels:
        todo, finest, fine_lvl = _density_profile(
            lf, rk_base, k, cell_level if use_cell else None)
        # A finest-grid cell >= RESIDUAL_HOT rows is one no finer rung could
        # take: RESIDUAL_HOT >= 4 * REFINE_CNT keeps every splittable
        # ancestor above the refine filters on the way down. The top 1024
        # are far beyond any real sky's tail and keep the salt map small.
        hot_fine = {int(r["_dc"]): int(r["_dn"]) for r in
                    finest.filter(F.col("_dn") >= RESIDUAL_HOT)
                    .orderBy(F.col("_dn").desc()).limit(1024).collect()}
    else:
        todo = lf.withColumn("_albl", F.lit(ladder[0]))
        hot_fine, fine_lvl = {}, 0
    _DECISIONS["salted_cells"] = len(hot_fine)

    def _salt_map_at(lvl: int) -> dict:
        """(cell at ``lvl`` -> salt groups) for the residual hot cells.
        A coarser rung sums counts up to the ancestor; a finer one (at most
        one rung past the finest grid) gives each child its parent's count,
        since over-salting a child only adds parallelism."""
        if lvl <= fine_lvl:
            agg: dict = {}
            for p, dn in hot_fine.items():
                a = p >> (2 * (fine_lvl - lvl))
                agg[a] = agg.get(a, 0) + dn
        else:
            fan = 1 << (2 * (lvl - fine_lvl))
            if fan > 16 or len(hot_fine) * fan > 4096:
                return {}  # keeps the map literal small if the caps change
            agg = {(p << (2 * (lvl - fine_lvl))) + i: dn
                   for p, dn in hot_fine.items() for i in range(fan)}
        return {a: -(-dn // SALT_TARGET) for a, dn in agg.items()
                if dn > SALT_TARGET}

    def _build_cand(active: DataFrame, lvl: int, n_active: int) -> DataFrame:
        """Candidate pairs for the rows probing at rung ``lvl``: the left
        ring-1 disc explode, the right side keyed at ``lvl`` (semi-pruned
        against the rung's cell set when the rung is small) and the
        residual hot cells salted."""
        if use_cell and lvl <= cell_level:
            lpix = hpx_cell_key("_lcell", cell_level, lvl)
            rkey = hpx_cell_key("_rcell", cell_level, lvl)
        else:
            lpix = hpx_udf(lvl)(F.col("_lra"), F.col("_ldec"))
            rkey = hpx_udf(lvl)(F.col("_rra"), F.col("_rdec"))
        # project before the join exchange, the widest of the operator:
        # _lcell/_albl (and _rcell) would otherwise ride it as dead weight
        lk = ring_explode(_with_xyz(active, "_l", "_lra", "_ldec"), lpix, lvl,
                          cols=["_lid", "_lx", "_ly", "_lz"])
        rk = rk_base
        # a small rung semi-joins the right side against its bounded cell
        # set, so the full table does not re-key for a handful of rows; a
        # big rung's cells cover most of the sky and would prune nothing.
        # Not checkpointed: an eager checkpoint serialises on the driver
        # what the broadcast thread pool evaluates concurrently across rungs.
        cells = (lk.select("_mc").distinct()
                 if n_active <= PRUNE_MAX_ACTIVE else None)
        if cells is not None and use_cell and lvl > cell_level:
            # the fine cells exist only after the key UDF: prune first on
            # their cell_level ancestors (a JVM shiftright), so the UDF
            # keys survivors only
            anc = cells.select(F.shiftright("_mc", 2 * (lvl - cell_level))
                               .alias("_rcell")).distinct()
            rk = rk.join(F.broadcast(anc), "_rcell", "semi")
        rk = rk.withColumn("_mc", rkey)
        if cells is not None:
            rk = rk.join(F.broadcast(cells), "_mc", "semi")
        rk = (_with_xyz(rk, "_r", "_rra", "_rdec")
              .select("_rid", "_rx", "_ry", "_rz", "_mc"))
        keys = ["_mc"]
        smap = _salt_map_at(lvl)
        if smap:
            # a hot cell's right rows split over S salt groups and its left
            # rows replicate across them; other cells get S=1
            sm = F.create_map(*[F.lit(int(v)).cast(t)
                                for c, s in sorted(smap.items())
                                for v, t in ((c, "bigint"), (s, "int"))])
            ns = F.coalesce(F.element_at(sm, F.col("_mc")), F.lit(1))
            rk = rk.withColumn("_salt", F.pmod(
                F.xxhash64("_rid"), ns.cast("bigint")).cast("int"))
            lk = lk.withColumn("_salt",
                               F.explode(F.sequence(F.lit(0), ns - 1)))
            keys.append("_salt")
        return lk.join(rk, keys).drop(*keys)

    def _thresh(lvl: int) -> float:
        """Density bound of a row that failed rung ``lvl``: fewer than k
        neighbours inside its verified radius. Infinite without a profile."""
        return _rung_density(k, lvl) if auto_levels else math.inf

    bounds: dict = {}  # rung -> density bound of the rows folded there

    def _bound_of(t: int) -> float:
        # a row the profile put on rung t did not meet rung t+2's density
        return bounds.get(
            t, _thresh(t + 2) if t + 2 <= ladder[0] else math.inf)

    advance = _first_when(((F.col("_albl") == a, b)
                           for a, b in next_rung.items()), F.col("_albl"))
    outputs: list = []
    starved_acc: list = []  # rows left unsatisfied by the last rung
    while True:
        # one histogram job serves the rung list, the per-rung prune
        # decisions and the folding
        hist = {int(r["_albl"]): int(r["_n"]) for r in
                todo.groupBy("_albl").agg(F.count(F.lit(1)).alias("_n"))
                .collect()}
        if not hist:  # left side empty
            break
        # fold tail rungs into the next rung while the pair budget allows;
        # the mass ledger (rows x density bound, summed per rung) prices
        # every row at its own bound
        mass = {r: hist[r] * _bound_of(r) for r in hist}
        while hist:
            t = max(hist)
            lower = [r for r in hist if r < t]
            # a lone tail rung pre-cascades to the next rung of the ladder
            nx = max(lower) if lower else next_rung.get(t)
            # 9 cells: the ring-1 disc each folded row probes at rung nx
            if (nx is None
                    or mass[t] * 9.0 * _cell_area(nx) > MERGE_PAIR_BUDGET):
                break
            todo = todo.withColumn("_albl", F.when(F.col("_albl") == t, nx)
                                   .otherwise(F.col("_albl")))
            bounds[nx] = max(_bound_of(nx), _bound_of(t))
            mass[nx] = mass.get(nx, 0.0) + mass.pop(t)
            hist[nx] = hist.get(nx, 0) + hist.pop(t)
        rungs = sorted(hist, reverse=True)
        # one union branch per rung; a row sits on exactly one rung, so it
        # ranks against its own rung's candidates and radius
        branches = [
            _build_cand(todo.filter(F.col("_albl") == lvl)
                        if len(rungs) > 1 else todo, lvl, hist[lvl])
            .withColumn("_vr", F.lit(-math.cos(_vr_deg(lvl) * RAD_PER_DEG)))
            for lvl in rungs]
        # the sweep's top-k is materialised once: the output branch, sat and
        # the anti-join all read it instead of re-running the candidate join
        topk = rank_topk(_union_all(branches)).localCheckpoint(eager=True)
        # satisfied: the k-th candidate exists (the _vr filter already put it
        # inside the row's verified radius)
        sat = topk.filter(F.col("_rk") == k).select("_lid")
        # Without last-rung rows in flight, counting sat (a cheap job on a
        # checkpointed frame) shows whether the sweep satisfied every row,
        # and sizes the semi/anti joins: a broadcast up to SAT_BC_MAX, the
        # planner's shuffle join above. Duplicate left ids only forfeit the
        # shortcut.
        n_sat = sat.count() if last not in hist else None
        sat_j = (F.broadcast(sat)
                 if n_sat is not None and n_sat <= SAT_BC_MAX else sat)
        outputs.append(topk.join(sat_j, "_lid", "semi")
                       .select("_lid", "_rid", F.col("_rk").alias("knn_rank")))
        if n_sat is not None and n_sat >= sum(hist.values()):
            break
        todo = todo.join(sat_j, "_lid", "left_anti")
        # bounds read the pre-sweep state; each rung lands on a distinct
        # next rung, so the update order cannot matter
        new_bounds: dict = {}
        for lvl in rungs:
            if lvl in next_rung:
                nx = next_rung[lvl]
                new_bounds[nx] = max(new_bounds.get(nx, _bound_of(nx)),
                                     min(_bound_of(lvl), _thresh(lvl)))
        if last in hist:
            starved_acc.append(todo.filter(F.col("_albl") == last)
                               .localCheckpoint(eager=True))
            todo = todo.filter(F.col("_albl") != last)
        bounds.update(new_bounds)
        # localCheckpoint truncates the per-sweep lineage (Spark 4.1
        # iterative-loop pathology, see knn()/graph.py)
        todo = todo.withColumn("_albl", advance).localCheckpoint(eager=True)
        # a known n_sat means a known remainder; only a last-rung split
        # needs the emptiness probe
        if n_sat is None and todo.limit(1).count() == 0:
            break

    if starved_acc:
        starved = _union_all(starved_acc)
        if starved.limit(1).count() > 0:
            if on_starved == "raise":
                raise RuntimeError(
                    f"knn_join: {starved.count()} left rows still starved "
                    f"after the level-{last} pass (k-th neighbor beyond its "
                    f"~{_vr_deg(last):.0f} deg verified radius); pass "
                    "on_starved='exact' or add coarser levels — results "
                    "would otherwise be silently partial")
            outputs.append(rank_topk(_all_pairs(starved)).select(
                "_lid", "_rid", F.col("_rk").alias("knn_rank")))
    if not outputs:  # empty left side: a vacuous, correctly-typed result
        outputs.append(rank_topk(_all_pairs(lf.limit(0))).select(
            "_lid", "_rid", F.col("_rk").alias("knn_rank")))
    return _union_all(outputs).select(F.col("_lid").alias(out_lid),
                                      F.col("_rid").alias(out_rid),
                                      "knn_rank")


def verified_radius_deg(level: int, rings: int = 1) -> float:
    """Radius within which knn() results are guaranteed complete. Uses the
    measured SAFE ring-1 radius (healpix.safe_ring1_rad), not max_pix_rad:
    points at 0.66-1.0x max_pix_rad can land in non-adjacent cells, so the
    old bound silently over-promised (candidates could be missed without
    triggering the starved-query widening). Chain argument: any point
    within rings * safe is reachable through `rings` cell adjacencies."""
    return rings * safe_ring1_rad(level) / RAD_PER_DEG
