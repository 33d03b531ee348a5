"""Time-domain operators: moving-object tracklets and per-object
lightcurves.

The time-domain survey workload over a detection stream/table: link
detections of moving objects into velocity-bounded pairs (tracklets —
the asteroid-pipeline primitive), and fold repeated detections of static
objects into per-object photometric time series (lightcurves). Both are
compositions of the engine's existing scale-safe stages — the ring-keyed
cell equi-join (J3 crossmatch: reference spt.c cone semantics at pair
granularity) plus one window or one partial-agg groupBy — so neither adds
a new shuffle shape.

Determinism note: outputs avoid emitting raw acos() separations (acos near
1 amplifies 1e-16 dot differences into ~1e-6 deg — engines' libm rounding
differs there); predicates compare in the cos domain and emitted metrics
are exact-integer or rounded-dot quantities, so the DuckDB oracles can
hash-match values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .joins import _dot_sql, crossmatch


def tracklets(det: DataFrame, max_speed_deg_day: float, dt_max_days: float,
              det_id: str = "det_id", time_col: str = "t_days",
              cols=("ra", "dec"), min_dot: float | None = None,
              **kwargs) -> DataFrame:
    """Velocity-bounded detection pairs (moving-object tracklet seeds).

    Emits every ordered pair (a, b) of detections with
    ``0 < t_b - t_a <= dt_max_days`` and angular separation
    ``<= max_speed_deg_day * (t_b - t_a)`` — i.e. pairs a single object
    moving at most ``max_speed_deg_day`` could produce. ``min_dot``
    (cos of a minimum separation) optionally drops stationary
    re-detections: pairs with dot > min_dot (closer than the floor)
    are excluded.

    Scale shape: one :func:`crossmatch` at the *maximum* reach
    ``max_speed_deg_day * dt_max_days`` (ring-keyed cell equi-join — no
    all-pairs anywhere), then pure-Column time/speed residuals. The
    speed cut is evaluated in the cos domain (``dot >= cos(speed*dt)``),
    so no acos enters the predicate. Output carries the pair ids, the
    exact integer-free ``dt_days`` difference, and the rounded pair dot.
    """
    import math

    reach = max_speed_deg_day * dt_max_days
    lr, ld = cols
    suffixes = kwargs.get("suffixes", ("_l", "_r"))
    kwargs.setdefault("left_cols", cols)
    kwargs.setdefault("right_cols", cols)
    pairs = crossmatch(det, det, reach, **kwargs)
    sl, sr = suffixes
    dt = F.col(time_col + sr) - F.col(time_col + sl)
    dot = F.expr(_dot_sql(lr + sl, ld + sl, lr + sr, ld + sr))
    # dot >= cos(speed * dt)  <=>  sep <= speed * dt  (both sides <= 180)
    speed_ok = dot >= F.cos(F.radians(
        F.least(F.lit(180.0), F.lit(max_speed_deg_day) * dt)))
    out = (pairs.filter((dt > 0) & (dt <= dt_max_days) & speed_ok)
           .filter(F.col(det_id + sl) != F.col(det_id + sr)))
    if min_dot is not None:
        out = out.filter(dot <= F.lit(min_dot))
    return (out.select(F.col(det_id + sl).alias("det_a"),
                       F.col(det_id + sr).alias("det_b"),
                       dt.alias("dt_days"),
                       F.round(dot, 9).alias("pair_dot")))


def lightcurves(det: DataFrame, catalog: DataFrame, radius_deg: float,
                det_id: str, obj_id: str, flux_col: str,
                time_col: str | None = None,
                flux_scale: int = 100, **kwargs) -> DataFrame:
    """Fold detections into per-object photometric time series stats.

    Each detection is associated to its nearest catalog object within
    ``radius_deg`` (:func:`best_match` semantics: window rank over the
    ring-keyed candidates, right-id tiebreak), then one partial-agg
    groupBy per object computes the lightcurve summary:

    - ``n_det`` — number of associated detections
    - ``flux_mean`` — mean flux (exact integer accumulation: fluxes are
      quantized to ``flux_scale`` units before summing, so the result is
      independent of Spark's partial-aggregation order and DuckDB can
      reproduce it bit-for-bit)
    - ``flux_min`` / ``flux_max`` / ``flux_amp`` — exact extremes + range
    - ``span_days`` — max(t) - min(t) in whole days (when ``time_col``)

    Scale shape: crossmatch candidates (big side JVM-only with an
    ingest-time cell column) -> one window shuffle on det_id -> one
    groupBy shuffle on obj_id with map-side combine; detection payloads
    beyond (id, pos, flux, t) never enter either exchange.
    """
    from .joins import best_match

    suffixes = kwargs.get("suffixes", ("_l", "_r"))
    sl, sr = suffixes
    sel = [det_id, *kwargs.get("left_cols", ("ra", "dec")), flux_col]
    if time_col:
        sel.append(time_col)
    cell_col = kwargs.get("cell_col")
    if cell_col:
        sel.append(cell_col)
    bm = best_match(det.select(*sel), catalog, radius_deg,
                    left_id=det_id, right_id=obj_id, **kwargs)
    q = F.round(F.col(flux_col + sl) * flux_scale).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("n_det"),
        F.round(F.sum(q) / F.count(F.lit(1)) / flux_scale, 6)
        .alias("flux_mean"),
        (F.min(q) / float(flux_scale)).alias("flux_min"),
        (F.max(q) / float(flux_scale)).alias("flux_max"),
        ((F.max(q) - F.min(q)) / float(flux_scale)).alias("flux_amp"),
    ]
    if time_col:
        tc = F.col(time_col + sl).cast("date")
        aggs.append(F.datediff(F.max(tc), F.min(tc)).alias("span_days"))
    return (bm.groupBy(F.col(obj_id + sr).alias(obj_id)).agg(*aggs))


def propagate_epoch(df: DataFrame, dt_years, pm_ra_col: str = "pm_ra",
                    pm_dec_col: str = "pm_dec", ra_col: str = "ra",
                    dec_col: str = "dec",
                    out_cols=("ra_t", "dec_t")) -> DataFrame:
    """Linear proper-motion propagation (the standard catalog model):

        dec' = dec + pm_dec * dt
        ra'  = (ra + pm_ra * dt / cos(dec)) wrapped to [0, 360)

    ``pm_ra`` is the TRUE angular rate along RA (mu_alpha-star — already
    includes the cos(dec) projection, deg/yr), ``pm_dec`` deg/yr,
    ``dt_years`` a scalar or a Column (per-row epoch difference). Pure
    Column arithmetic — map-only, codegen'd, no shuffle, and exactly
    replayable in ANSI SQL (the oracle requirement).

    The linear model is the small-motion approximation every catalog
    pipeline uses between nearby epochs; it degrades within ~pm*dt of the
    poles (cos(dec) division), where a caller should use full 3-D vector
    propagation instead. Rows whose |dec'| would reach the pole raise in
    the plan rather than silently wrapping.
    """
    from pyspark.sql import Column
    dt = dt_years if isinstance(dt_years, Column) else F.lit(float(dt_years))
    dec2 = F.col(dec_col) + F.col(pm_dec_col) * dt
    ra2 = F.col(ra_col) + F.col(pm_ra_col) * dt / F.cos(F.radians(F.col(dec_col)))
    ra2 = (ra2 % 360.0 + 360.0) % 360.0
    guard = F.when(F.abs(dec2) < 90.0, dec2).otherwise(
        F.assert_true(F.abs(dec2) < 90.0,
                      F.lit("propagate_epoch: |dec'| >= 90 — linear model "
                            "invalid at the pole")).cast("double"))
    return df.withColumn(out_cols[0], ra2).withColumn(out_cols[1], guard)


def pm_crossmatch(movers: DataFrame, catalog: DataFrame, radius_deg: float,
                  dt_years, pm_ra_col: str = "pm_ra",
                  pm_dec_col: str = "pm_dec", ra_col: str = "ra",
                  dec_col: str = "dec", **kwargs) -> DataFrame:
    """Epoch-propagated crossmatch: advance ``movers`` by ``dt_years`` of
    proper motion, then ring-keyed J3 crossmatch against ``catalog`` at
    the target epoch — how a moving catalog (Gaia-style) is matched to a
    survey observed years later. The propagation is a map-only Column
    pass, so the crossmatch scale shape (big side JVM-only, candidates
    keyed by cell) is unchanged."""
    prop = propagate_epoch(movers, dt_years, pm_ra_col, pm_dec_col,
                           ra_col, dec_col, out_cols=("_pra", "_pdec"))
    keep = [c for c in movers.columns if c not in (ra_col, dec_col,
                                                   pm_ra_col, pm_dec_col)]
    left = prop.select(*keep, F.col("_pra").alias(ra_col),
                       F.col("_pdec").alias(dec_col))
    return crossmatch(left, catalog, radius_deg, **kwargs)


def lomb_scargle(df: DataFrame, key_col: str, t_col: str, y_col: str,
                 freqs, y_quant: int = 100,
                 trig_quant: int = 1_000_000) -> DataFrame:
    """Lomb–Scargle periodogram per object: normalized generalized-LS
    power at each trial frequency (cycles per unit of ``t_col``) — the
    standard period-finding statistic for unevenly sampled lightcurves
    (Lomb 1976; Scargle 1982; tau-free floating-mean form per
    Zechmeister & Kuerster 2009 eq. 4-5).

    Determinism contract (the oracle requirement): per-row trig terms are
    quantized to ``trig_quant`` units and y to ``y_quant`` units BEFORE
    summing, so every aggregate is an exact int64 sum independent of
    Spark's partial-aggregation order; the power is then a fixed-shape
    IEEE expression over those integers, bit-reproducible in ANSI SQL.
    Exactness bound: per-group ``n * trig_quant**2`` must stay below
    2**53 (n <= ~9e6 rows/object at the default quant) — raise/lower
    ``trig_quant`` for extreme cadences.

    Scale shape: the row count multiplies by ``len(freqs)`` (a broadcast
    literal array, exploded JVM-side), then ONE groupBy on (key, freq)
    with map-side combine collapses everything to nkeys*nfreqs rows; no
    other shuffle, no Python evaluation anywhere.

    Returns (key, freq, n_obs, power) with power in [0, 1], rounded to
    9 dp (constant signals — zero variance — yield NULL power).
    """
    import math as _m

    fl = [float(f) for f in freqs]
    if not fl:
        raise ValueError("freqs must be non-empty")
    grid = F.explode(F.array(*[
        F.struct(F.lit(f).alias("freq"),
                 F.lit(_m.tau * f).alias("_w")) for f in fl])).alias("_g")
    tq = F.lit(float(trig_quant))
    wt = F.col("_g._w") * F.col(t_col)
    rows = (df.select(F.col(key_col).alias("key"),
                      F.col(t_col), F.col(y_col), grid)
            .select("key", F.col("_g.freq").alias("freq"),
                    F.round(F.col(y_col) * y_quant).cast("long").alias("yq"),
                    F.round(F.cos(wt) * tq).cast("long").alias("c"),
                    F.round(F.sin(wt) * tq).cast("long").alias("s")))
    g = rows.groupBy("key", "freq").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
        F.sum("c").alias("c1"),
        F.sum("s").alias("s1"),
        F.sum(F.col("yq") * F.col("c")).alias("yc"),
        F.sum(F.col("yq") * F.col("s")).alias("ys"),
        F.sum(F.col("c") * F.col("c")).alias("cc"),
        F.sum(F.col("s") * F.col("s")).alias("ss"),
        F.sum(F.col("c") * F.col("s")).alias("cs"))
    # centered second moments — every term below is (exact int) op
    # (exact int) / n with a fixed tree, mirrored textually in the oracle
    n = F.col("n")
    YC = F.col("yc") - (F.col("sy") * F.col("c1")) / n
    YS = F.col("ys") - (F.col("sy") * F.col("s1")) / n
    CC = F.col("cc") - (F.col("c1") * F.col("c1")) / n
    SS = F.col("ss") - (F.col("s1") * F.col("s1")) / n
    CS = F.col("cs") - (F.col("c1") * F.col("s1")) / n
    YY = F.col("syy") - (F.col("sy") * F.col("sy")) / n
    D = CC * SS - CS * CS
    num = SS * (YC * YC) - (F.lit(2.0) * CS) * (YC * YS) + CC * (YS * YS)
    power = F.when((D != 0) & (YY != 0), num / (D * YY))
    return g.select("key", "freq", n.alias("n_obs"),
                    F.round(power, 9).alias("power"))


def best_period(ls: DataFrame) -> DataFrame:
    """Top frequency per object from a :func:`lomb_scargle` frame:
    one window rank per key (power desc, freq asc tiebreak) — the
    argmax the period-search pipeline actually wants. Returns
    (key, best_freq, power)."""
    w = Window.partitionBy("key").orderBy(F.col("power").desc_nulls_last(),
                                          F.col("freq").asc())
    return (ls.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("key", F.col("freq").alias("best_freq"), "power"))


def variability_stats(df: DataFrame, key_col: str, t_col: str, y_col: str,
                      y_quant: int = 100) -> DataFrame:
    """Per-object variability summary over a photometric time series:

    - ``n_obs``, ``mean_y``, ``var_y`` (sample variance), ``amp_y``
    - ``eta`` — the von Neumann ratio (mean squared successive
      difference / variance; Shin et al.'s standard variability index):
      eta << 2 flags smooth trends, eta ~ 2 is white noise.

    y is quantized to ``y_quant`` units so sums are exact int64 and the
    quantization CANCELS in eta (a pure ratio); successive differences
    order by (t, yq) — deterministic under timestamp ties. One window
    shuffle on the key + one groupBy with map-side combine.
    """
    yq = F.round(F.col(y_col) * y_quant).cast("long")
    rows = (df.select(F.col(key_col).alias("key"),
                      F.col(t_col), yq.alias("_yq"))
            .withColumn("_d", F.col("_yq") - F.lag("_yq").over(
                Window.partitionBy("key").orderBy(F.col(t_col),
                                                  F.col("_yq")))))
    g = rows.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_yq").alias("sy"),
        F.sum(F.col("_yq") * F.col("_yq")).alias("syy"),
        F.min("_yq").alias("mn"),
        F.max("_yq").alias("mx"),
        F.sum(F.col("_d") * F.col("_d")).alias("sd2"))
    n = F.col("n")
    q = float(y_quant)
    ssq = F.col("syy") - (F.col("sy") * F.col("sy")) / n
    var_y = F.when(n > 1, (ssq / (n - F.lit(1))) / F.lit(q * q))
    eta = F.when((n > 1) & (ssq != 0), F.col("sd2") / ssq)
    return g.select(
        "key", n.alias("n_obs"),
        F.round((F.col("sy") / n) / F.lit(q), 9).alias("mean_y"),
        F.round(var_y, 9).alias("var_y"),
        ((F.col("mx") - F.col("mn")) / F.lit(q)).alias("amp_y"),
        F.round(eta, 9).alias("eta"))


def phase_fold(df: DataFrame, key_col: str, t_us_col: str, y_col: str,
               period_us: int, n_bins: int = 8,
               y_quant: int = 1000) -> DataFrame:
    """Phase-folded binned lightcurve at a KNOWN period (the step after
    :func:`lomb_scargle`/:func:`best_period` finds one): fold each
    observation's integer-microsecond timestamp at ``period_us``, bin the
    phase into ``n_bins`` equal bins, and emit per (key, bin) the count,
    quantized-exact mean and amplitude. The folded profile is the
    variable-star / exoplanet-transit shape diagnostic.

    Determinism: the bin index is pure int64 arithmetic
    ``((t % P) * B) div P`` (no float phase ever exists), and y sums are
    ``y_quant``-quantized int64, so a SQL oracle hash-matches bit-exactly.
    One partial-agg groupBy (map-side combine) — no window, no join; at
    100 TB this is a single shuffle of (key, bin) partial sums.
    """
    if period_us <= 0 or n_bins <= 0:
        raise ValueError("period_us and n_bins must be positive")
    # non-negative-safe fold: pmod keeps t < 0 (pre-epoch) in [0, P);
    # (phase * B) div P stays well inside int64 for any period <= ~290 ky
    pbin = F.expr(f"(pmod({t_us_col}, {int(period_us)}) * {int(n_bins)}) "
                  f"div {int(period_us)}").cast("int")
    yq = F.round(F.col(y_col) * y_quant).cast("long")
    g = (df.select(F.col(key_col).alias("key"), pbin.alias("phase_bin"),
                   yq.alias("_yq"))
         .groupBy("key", "phase_bin")
         .agg(F.count(F.lit(1)).alias("n_obs"),
              F.sum("_yq").alias("_sy"),
              F.min("_yq").alias("_mn"),
              F.max("_yq").alias("_mx")))
    q = float(y_quant)
    return g.select(
        "key", "phase_bin", "n_obs",
        F.round((F.col("_sy") / F.col("n_obs")) / F.lit(q), 9)
        .alias("mean_y"),
        ((F.col("_mx") - F.col("_mn")) / F.lit(q)).alias("amp_y"))


def linear_fit(df: DataFrame, key_col: str, t_col: str, y_col: str,
               t_quant_us: int = 3_600_000_000,
               y_quant: int = 1000) -> DataFrame:
    """Per-key least-squares linear trend y = slope*t + intercept — the
    proper-motion / secular-drift fit (reference seed: the multi-epoch
    position series pm_crossmatch consumes; this is the stage that
    PRODUCES pm columns from raw epochs). ``t_col`` is integer
    microseconds; it is floored to ``t_quant_us`` ticks (default 1 h) and
    y is ``y_quant``-quantized so every sufficient statistic (n, st, sy,
    stt, sty) is an exact int64 — the closed-form slope/intercept are then
    deterministic double expressions a SQL oracle replays bit-identically
    (builtin regr_slope accumulates floats in engine-specific order, so it
    can NOT be oracle-matched; this formulation can).

    Output slope is in y-units per t-tick, intercept in y-units at t=0.
    Keys with n < 2 observations or zero t-variance emit NULL fit columns
    rather than dropping (the caller sees every key it asked about).
    One partial-agg groupBy — map-side combine, single narrow shuffle.
    """
    tq = F.expr(f"{t_col} div {int(t_quant_us)}").cast("long")
    yq = F.round(F.col(y_col) * y_quant).cast("long")
    g = (df.select(F.col(key_col).alias("key"), tq.alias("_t"),
                   yq.alias("_y"))
         .groupBy("key")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("_t").alias("_st"),
              F.sum("_y").alias("_sy"),
              F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
              F.sum(F.col("_t") * F.col("_y")).alias("_sty")))
    n = F.col("n").cast("double")
    st = F.col("_st").cast("double")
    sy = F.col("_sy").cast("double")
    stt = F.col("_stt").cast("double")
    sty = F.col("_sty").cast("double")
    den = n * stt - st * st
    slope_q = (n * sty - st * sy) / den
    q = float(y_quant)
    slope = F.when(den != 0, F.round(slope_q / F.lit(q), 9))
    intercept = F.when(den != 0, F.round(
        ((sy - slope_q * st) / n) / F.lit(q), 9))
    return g.select("key", F.col("n").alias("n_obs"),
                    slope.alias("slope"), intercept.alias("intercept"))


def proper_motions(det: DataFrame, catalog: DataFrame, radius_deg: float,
                   det_id: str, obj_id: str, time_col: str,
                   ra_col: str = "ra", dec_col: str = "dec",
                   t_quant_us: int = 3_600_000_000,
                   pos_quant: int = 1_000_000, **kwargs) -> DataFrame:
    """Associate-then-fit: the pipeline that PRODUCES proper-motion
    columns (the input :func:`propagate_epoch` / pm_crossmatch consumes).
    Detections best_match into the catalog (J3 window semantics), then
    ONE partial-agg groupBy per object accumulates the shared exact
    int64 sufficient statistics for BOTH coordinate fits — the same
    quantized-LSQ formulation as :func:`linear_fit` (builtin regr_slope
    is not oracle-matchable; this is), with ra and dec sharing (n, st,
    stt), so the fit costs one narrow shuffle of seven longs per object
    after the association.

    Output: (obj, n_obs, pm_ra, pm_dec, ra0, dec0) — slopes in
    position-units per t-tick, intercepts at t=0; NULL fits on n < 2 or
    zero t-variance. RA is fit as-given (callers near the wrap
    pre-center with a local offset; deterministic either way).
    """
    from ..operators.joins import best_match

    sl, sr = kwargs.get("suffixes", ("_l", "_r"))
    probe = det.select(det_id, ra_col, dec_col, time_col)
    pairs = best_match(probe, catalog, radius_deg, left_id=det_id,
                       right_id=obj_id, **kwargs)
    tq = F.expr(f"{time_col}{sl} div {int(t_quant_us)}").cast("long")
    raq = F.round(F.col(ra_col + sl) * pos_quant).cast("long")
    decq = F.round(F.col(dec_col + sl) * pos_quant).cast("long")
    g = (pairs.select(F.col(obj_id + sr).alias("obj"), tq.alias("_t"),
                      raq.alias("_ra"), decq.alias("_dec"))
         .groupBy("obj")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("_t").alias("_st"),
              F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
              F.sum("_ra").alias("_sra"),
              F.sum(F.col("_t") * F.col("_ra")).alias("_stra"),
              F.sum("_dec").alias("_sdec"),
              F.sum(F.col("_t") * F.col("_dec")).alias("_stdec")))
    n = F.col("n").cast("double")
    st = F.col("_st").cast("double")
    stt = F.col("_stt").cast("double")
    den = n * stt - st * st
    q = float(pos_quant)

    def fit(sy_col, sty_col):
        sy = F.col(sy_col).cast("double")
        sty = F.col(sty_col).cast("double")
        slope_q = (n * sty - st * sy) / den
        slope = F.when(den != 0, F.round(slope_q / F.lit(q), 9))
        icpt = F.when(den != 0, F.round(
            ((sy - slope_q * st) / n) / F.lit(q), 9))
        return slope, icpt

    pm_ra, ra0 = fit("_sra", "_stra")
    pm_dec, dec0 = fit("_sdec", "_stdec")
    return g.select(F.col("obj"), F.col("n").alias("n_obs"),
                    pm_ra.alias("pm_ra"), pm_dec.alias("pm_dec"),
                    ra0.alias("ra0"), dec0.alias("dec0"))
