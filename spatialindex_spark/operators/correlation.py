"""Two-point angular correlation: the Landy-Szalay estimator (Landy &
Szalay 1993, ApJ 412, 64) — THE clustering statistic large-survey
pipelines compute over their object catalogs.

    w(theta_bin) = (DD - 2*DR + RR) / RR     (per-bin, normalized)

where DD/DR/RR are data-data / data-random / random-random pair counts
in angular separation bins. Pair enumeration rides the engine's
ring-keyed J3 :func:`~.joins.crossmatch` at the LARGEST bin edge — never
an all-pairs join — so the cost is three bounded candidate joins plus
three tiny groupBys on the bin id. The 100-TB shape: pair counts are the
scale driver (quadratic in local density at max-theta reach), exactly
the regime the cell-keyed candidate join + AQE skew handling is built
for; the estimator itself reduces to a per-bin integer-count frame that
fits on the driver at any survey size.

Determinism contract: bins are assigned by comparing the exact pair dot
to PRECOMPUTED ``cos(edge)`` literals shared with the SQL oracle (no
acos anywhere; a dot landing within 1 ulp of an edge is the only
cross-engine risk); pair counts are exact integers, and the estimator is
a fixed-shape IEEE expression over them.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .joins import _dot_sql, crossmatch


def _bin_expr(dot, cos_edges):
    """Bin id for a pair dot: bin i covers [edges[i], edges[i+1]) in
    theta, i.e. (cos_edges[i+1], cos_edges[i]] in the dot domain;
    NULL outside [edges[0], edges[-1])."""
    out = None
    for i in range(len(cos_edges) - 1):
        cond = (dot <= F.lit(cos_edges[i])) & (dot > F.lit(cos_edges[i + 1]))
        out = F.when(cond, F.lit(i)) if out is None else out.when(cond,
                                                                  F.lit(i))
    return out.otherwise(F.lit(None).cast("int"))


def pair_counts(left: DataFrame, right: DataFrame, edges_deg,
                left_id: str, right_id: str,
                exclude_self: bool = False, **kwargs) -> DataFrame:
    """Ordered-pair counts per angular bin: (bin, n_pairs). Pairs come
    from one crossmatch at ``edges_deg[-1]``; ``exclude_self`` drops
    (i, i) rows for auto-correlations (both sides the same catalog)."""
    edges = [float(e) for e in edges_deg]
    if sorted(edges) != edges or len(edges) < 2:
        raise ValueError("edges_deg must be ascending with >= 2 entries")
    if edges[0] < 0 or edges[-1] > 90:
        raise ValueError("edges_deg must lie in [0, 90]")
    cos_edges = [math.cos(math.radians(e)) for e in edges]
    suffixes = kwargs.get("suffixes", ("_l", "_r"))
    lcols = kwargs.get("left_cols", ("ra", "dec"))
    rcols = kwargs.get("right_cols", ("ra", "dec"))
    cm = crossmatch(left, right, edges[-1], **kwargs)
    sl, sr = suffixes
    lr, ld = lcols
    rr_, rd = rcols
    dot = F.expr(_dot_sql(lr + sl, ld + sl, rr_ + sr, rd + sr))
    if exclude_self:
        cm = cm.filter(F.col(left_id + sl) != F.col(right_id + sr))
    binned = cm.select(_bin_expr(dot, cos_edges).alias("bin"))
    return (binned.where(F.col("bin").isNotNull())
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))


def landy_szalay(data: DataFrame, random: DataFrame, edges_deg,
                 data_id: str, random_id: str, **kwargs) -> DataFrame:
    """Landy-Szalay w(theta) over ``edges_deg`` bins.

    Returns (bin, theta_lo, theta_hi, n_dd, n_dr, n_rr, w_ls) with
    ordered-pair counts (self-pairs excluded on the auto terms) and

        w = (dd/(nd*(nd-1)) - 2*dr/(nd*nr) + rr/(nr*(nr-1)))
            / (rr/(nr*(nr-1)))

    NULL where the bin has no RR pairs. The three pair scans share one
    plan shape; the normalization counts are two driver-side counts.
    """
    edges = [float(e) for e in edges_deg]
    nd = data.count()
    nr = random.count()
    if nd < 2 or nr < 2:
        raise ValueError("need >= 2 rows in both catalogs")
    dd = pair_counts(data, data, edges, data_id, data_id,
                     exclude_self=True, **kwargs)
    dr = pair_counts(data, random, edges, data_id, random_id, **kwargs)
    rr = pair_counts(random, random, edges, random_id, random_id,
                     exclude_self=True, **kwargs)
    spark = data.sparkSession
    bins = spark.createDataFrame(
        [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)],
        "bin int, theta_lo double, theta_hi double")
    j = (bins
         .join(dd.withColumnRenamed("n", "n_dd"), "bin", "left")
         .join(dr.withColumnRenamed("n", "n_dr"), "bin", "left")
         .join(rr.withColumnRenamed("n", "n_rr"), "bin", "left")
         .na.fill(0, ["n_dd", "n_dr", "n_rr"]))
    # fixed-shape IEEE tree over exact integers (mirrored in the oracle);
    # denominators are Python-int products so they land as single long
    # literals (no int32 overflow at survey scale)
    ddn = F.col("n_dd") / F.lit(nd * (nd - 1))
    drn = F.col("n_dr") / F.lit(nd * nr)
    rrn = F.col("n_rr") / F.lit(nr * (nr - 1))
    w = F.when(F.col("n_rr") > 0,
               (ddn - F.lit(2.0) * drn + rrn) / rrn)
    return j.select("bin", "theta_lo", "theta_hi", "n_dd", "n_dr", "n_rr",
                    F.round(w, 9).alias("w_ls")).orderBy("bin")


def cross_correlation(data1: DataFrame, data2: DataFrame,
                      random1: DataFrame, random2: DataFrame, edges_deg,
                      id1: str, id2: str, rid1: str, rid2: str,
                      **kwargs) -> DataFrame:
    """Two-catalog Landy-Szalay CROSS-correlation (the LS 1993 estimator
    generalized to two samples — e.g. Blake et al. 2006 galaxy x QSO):

        w_12 = (d1d2 - d1r2 - d2r1 + r1r2) / r1r2

    per bin, each term its ordered-pair count normalized by the catalog
    size product. All four scans are cross-catalog (no self-pair
    exclusion needed); each rides the same ring-keyed crossmatch at the
    largest edge, so the scale shape is identical to :func:`landy_szalay`
    — four bounded candidate joins + four tiny bin groupBys, never
    all-pairs.

    Returns (bin, theta_lo, theta_hi, n_d1d2, n_d1r2, n_d2r1, n_r1r2,
    w_ls); NULL w where r1r2 is empty.
    """
    edges = [float(e) for e in edges_deg]
    n1, n2 = data1.count(), data2.count()
    m1, m2 = random1.count(), random2.count()
    if min(n1, n2, m1, m2) < 1:
        raise ValueError("all four catalogs must be non-empty")
    d1d2 = pair_counts(data1, data2, edges, id1, id2, **kwargs)
    d1r2 = pair_counts(data1, random2, edges, id1, rid2, **kwargs)
    d2r1 = pair_counts(data2, random1, edges, id2, rid1, **kwargs)
    r1r2 = pair_counts(random1, random2, edges, rid1, rid2, **kwargs)
    spark = data1.sparkSession
    bins = spark.createDataFrame(
        [(i, edges[i], edges[i + 1]) for i in range(len(edges) - 1)],
        "bin int, theta_lo double, theta_hi double")
    j = (bins
         .join(d1d2.withColumnRenamed("n", "n_d1d2"), "bin", "left")
         .join(d1r2.withColumnRenamed("n", "n_d1r2"), "bin", "left")
         .join(d2r1.withColumnRenamed("n", "n_d2r1"), "bin", "left")
         .join(r1r2.withColumnRenamed("n", "n_r1r2"), "bin", "left")
         .na.fill(0, ["n_d1d2", "n_d1r2", "n_d2r1", "n_r1r2"]))
    a = F.col("n_d1d2") / F.lit(n1 * n2)
    b = F.col("n_d1r2") / F.lit(n1 * m2)
    c = F.col("n_d2r1") / F.lit(n2 * m1)
    d = F.col("n_r1r2") / F.lit(m1 * m2)
    w = F.when(F.col("n_r1r2") > 0, (a - b - c + d) / d)
    return j.select("bin", "theta_lo", "theta_hi", "n_d1d2", "n_d1r2",
                    "n_d2r1", "n_r1r2",
                    F.round(w, 9).alias("w_ls")).orderBy("bin")


def pair_counts_by_region(left: DataFrame, right: DataFrame, edges_deg,
                          left_id: str, right_id: str,
                          region_expr, exclude_self: bool = False,
                          **kwargs) -> DataFrame:
    """Ordered-pair counts per (bin, left-region, right-region):
    the sufficient statistics for leave-one-region-out resampling.
    ``region_expr`` is a Column-builder ``f(ra_col, dec_col) -> Column``
    applied to each endpoint's coordinates; the output is bounded at
    n_bins * K^2 rows regardless of catalog size."""
    edges = [float(e) for e in edges_deg]
    if sorted(edges) != edges or len(edges) < 2:
        raise ValueError("edges_deg must be ascending with >= 2 entries")
    cos_edges = [math.cos(math.radians(e)) for e in edges]
    suffixes = kwargs.get("suffixes", ("_l", "_r"))
    lcols = kwargs.get("left_cols", ("ra", "dec"))
    rcols = kwargs.get("right_cols", ("ra", "dec"))
    cm = crossmatch(left, right, edges[-1], **kwargs)
    sl, sr = suffixes
    lr, ld = lcols
    rr_, rd = rcols
    dot = F.expr(_dot_sql(lr + sl, ld + sl, rr_ + sr, rd + sr))
    if exclude_self:
        cm = cm.filter(F.col(left_id + sl) != F.col(right_id + sr))
    binned = cm.select(
        _bin_expr(dot, cos_edges).alias("bin"),
        region_expr(F.col(lr + sl), F.col(ld + sl)).alias("lreg"),
        region_expr(F.col(rr_ + sr), F.col(rd + sr)).alias("rreg"))
    return (binned.where(F.col("bin").isNotNull())
            .groupBy("bin", "lreg", "rreg")
            .agg(F.count(F.lit(1)).alias("n")))


def landy_szalay_jackknife(data: DataFrame, random: DataFrame, edges_deg,
                           data_id: str, random_id: str,
                           region_expr, n_regions: int,
                           **kwargs) -> DataFrame:
    """Landy-Szalay w(theta) with spatial (delete-one-region) jackknife
    errors — the standard survey error bar (Norberg et al. 2009).

    Each catalog row is assigned a sky region by ``region_expr``; for
    every region k the estimator is recomputed on the catalogs with
    region k deleted (pair counts via inclusion-exclusion over the
    (bin, lreg, rreg) sufficient table — NO re-scan per region), and

        sigma^2(bin) = (K-1)/K * sum_k (w_k - mean_k(w))^2

    over the regions where the deleted-sample RR is non-empty. The
    three pair scans are the same three landy_szalay runs; everything
    after them operates on n_bins*K^2-bounded frames, so the error
    estimate adds zero catalog-scale work.

    Returns (bin, theta_lo, theta_hi, n_dd, n_dr, n_rr, w_ls, w_err,
    n_jk) with w_err NULL when fewer than 2 regions are usable.
    """
    edges = [float(e) for e in edges_deg]
    K = int(n_regions)
    spark = data.sparkSession
    lcols = kwargs.get("left_cols", ("ra", "dec"))
    lr, ld = lcols

    # per-region catalog sizes (bounded at K rows; collected)
    def reg_counts(df):
        rows = (df.groupBy(region_expr(F.col(lr), F.col(ld)).alias("reg"))
                .agg(F.count(F.lit(1)).alias("n")).collect())
        return {int(r.reg): int(r.n) for r in rows}

    nd_by, nr_by = reg_counts(data), reg_counts(random)
    nd, nr = sum(nd_by.values()), sum(nr_by.values())
    if nd < 2 or nr < 2:
        raise ValueError("need >= 2 rows in both catalogs")

    dd = pair_counts_by_region(data, data, edges, data_id, data_id,
                               region_expr, exclude_self=True, **kwargs)
    dr = pair_counts_by_region(data, random, edges, data_id, random_id,
                               region_expr, **kwargs)
    rr = pair_counts_by_region(random, random, edges, random_id,
                               random_id, region_expr, exclude_self=True,
                               **kwargs)

    # BOUNDED driver read: the pair-count tables have at most
    # nbins * K^2 rows (bins x region x region) whatever the catalog
    # size — the K leave-one-out recomputations then run exactly in
    # plain Python floats (deterministic iteration order — mirrored
    # 1:1 in the SQL oracle)
    def tab(df):
        t = {}
        for r in df.collect():
            t[(int(r.bin), int(r.lreg), int(r.rreg))] = int(r.n)
        return t

    tdd, tdr, trr = tab(dd), tab(dr), tab(rr)
    nb = len(edges) - 1

    def tot(t, b):
        return sum(n for (bb, _, _), n in t.items() if bb == b)

    def excl(t, b, k):
        return sum(n for (bb, i, j), n in t.items()
                   if bb == b and i != k and j != k)

    out_rows = []
    for b in range(nb):
        n_dd, n_dr, n_rr = tot(tdd, b), tot(tdr, b), tot(trr, b)
        w = None
        if n_rr > 0:
            ddn = n_dd / (nd * (nd - 1))
            drn = n_dr / (nd * nr)
            rrn = n_rr / (nr * (nr - 1))
            w = (ddn - 2.0 * drn + rrn) / rrn
        wks = []
        for k in range(K):
            ndk = nd - nd_by.get(k, 0)
            nrk = nr - nr_by.get(k, 0)
            rrk = excl(trr, b, k)
            if ndk < 2 or nrk < 2 or rrk == 0:
                continue
            ddk = excl(tdd, b, k)
            drk = excl(tdr, b, k)
            wk = ((ddk / (ndk * (ndk - 1)) - 2.0 * (drk / (ndk * nrk))
                   + rrk / (nrk * (nrk - 1)))
                  / (rrk / (nrk * (nrk - 1))))
            wks.append(wk)
        err = None
        if len(wks) >= 2:
            m = sum(wks) / len(wks)
            err = math.sqrt((len(wks) - 1) / len(wks)
                            * sum((x - m) ** 2 for x in wks))
        out_rows.append((b, edges[b], edges[b + 1], n_dd, n_dr, n_rr,
                         None if w is None else round(w, 9),
                         None if err is None else round(err, 9),
                         len(wks)))
    return spark.createDataFrame(
        out_rows,
        "bin int, theta_lo double, theta_hi double, n_dd long, "
        "n_dr long, n_rr long, w_ls double, w_err double, n_jk int")
