"""Distribution-based QA/QC tests — unusual gaps, frequent values,
climatological outliers, precipitation dailies, streak variants
(reference ``qaqc_unusual_gaps.py`` / ``qaqc_frequent.py`` /
``qaqc_climatological_outlier.py`` / ``qaqc_unusual_streaks.py``).

Everything except the low-pass island is grouped aggregates + window
passes; the Butterworth filter (W9) runs per-station inside
``applyInPandas`` with a self-contained numpy IIR (scipy is not
available in this environment; an order-1 Butterworth is two biquad
coefficients from the bilinear transform — public signal-processing
math).

Deviations from the reference are intent-preserving and documented
inline (the reference's part-1 gap check computes its bounds over the
whole record rather than the month slice — a known quirk; this engine
evaluates each calendar month against its own climatology, which is
the documented intent and what FIXTURES.md D11 expects).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import qaqc as Q
from .windows import ordered_window, sessionize

# Histogram bin widths per variable family (qaqc_utils.py:59-71):
# 1 K temperatures, 100 Pa pressures, 0.1 mm precip, 50 W/m²
# radiation; 0.25 IQR-units for standardized series.
BIN_WIDTHS = {
    "tas": 1.0,
    "tdps": 1.0,
    "tdps_derived": 1.0,
    "ps": 100.0,
    "psl": 100.0,
    "ps_altimeter": 100.0,
    "ps_derived": 100.0,
    "pr": 0.1,
    "pr_5min": 0.1,
    "pr_15min": 0.1,
    "pr_1h": 0.1,
    "pr_24h": 0.1,
    "pr_localmid": 0.1,
    "rsds": 50.0,
    "sfcWind": 0.5,
    "sfcWind_dir": 10.0,
    "hurs": 1.0,
}

FLAG_GAP_MONTH = 21
FLAG_GAP_DISTRIBUTION = 22
FLAG_FREQ_ANNUAL = 24
FLAG_FREQ_SEASONAL = 25
FLAG_CLIM_OUTLIER = 26
FLAG_STREAK_HOUR = 27
FLAG_STREAK_DAY = 29
FLAG_PR_FREQUENT = 31
FLAG_PR_CLIM = 32
FLAG_PR_GAP = 33


def _moy(time_col: str = "time") -> Column:
    return F.month(time_col)


def synergistic_flag_copy(
    df: DataFrame, var_a: str = "tas", var_b: str = "tdps"
) -> DataFrame:
    """L10 (qaqc_frequent.py:467-500): frequent-value flags on tas are
    copied to tdps at the same rows and vice versa (24/25)."""
    if var_a not in df.columns or var_b not in df.columns:
        return df
    out = df
    for src, dst in ((var_a, var_b), (var_b, var_a)):
        for flag in (FLAG_FREQ_ANNUAL, FLAG_FREQ_SEASONAL):
            out = out.withColumn(
                Q.eraqc(dst),
                F.when(
                    (F.col(Q.eraqc(src)) == flag)
                    & F.col(Q.eraqc(dst)).isNull(),
                    F.lit(float(flag)),
                ).otherwise(F.col(Q.eraqc(dst))),
            )
    return out


# --------------------------------------------- daily precip preparations
def _daily_precip(df: DataFrame, var: str) -> DataFrame:
    valid = df.where(Q.valid_mask(var) & F.col(var).isNotNull())
    return valid.groupBy(
        "station", F.to_date("time").alias("__day")
    ).agg(F.sum(var).alias("__daily"))


def _flag_days(
    df: DataFrame, var: str, bad_days: DataFrame, flag: int
) -> DataFrame:
    """Back-flag all native rows belonging to flagged days."""
    out = df.withColumn("__day", F.to_date("time")).join(
        F.broadcast(bad_days.select("station", "__day").withColumn("__bad_day", F.lit(True))),
        ["station", "__day"],
        "left",
    )
    out = Q.write_flag(out, var, F.col("__bad_day").isNotNull(), flag)
    return out.drop("__day", "__bad_day")


# ----------------------------------------------- flag 31: frequent precip
def precip_frequent_check(
    df: DataFrame,
    var: str = "pr",
    moderate_mm: float = 18.0,
    min_run_days: int = 5,
) -> DataFrame:
    """Flag 31 (qaqc_frequent.py:566-645): ≥ ``min_run_days``
    consecutive days with identical daily totals above
    ``moderate_mm`` indicate a stuck gauge; all obs of those days are
    flagged."""
    if var not in df.columns:
        return df
    daily = _daily_precip(df, var)
    runs = sessionize(
        daily,
        "station",
        "__day",
        (F.col("__daily") != F.lag("__daily").over(ordered_window("station", "__day")))
        | (
            F.datediff(
                F.col("__day"),
                F.lag("__day").over(ordered_window("station", "__day")),
            )
            > 1
        ),
        out="__run",
    )
    w_run = Window.partitionBy("station", "__run")
    bad_days = (
        runs.withColumn("__len", F.count(F.lit(1)).over(w_run))
        .where(
            (F.col("__len") >= min_run_days)
            & (F.col("__daily") > moderate_mm)
        )
        .select("station", "__day")
    )
    return _flag_days(df, var, bad_days, FLAG_PR_FREQUENT)


# -------------------------------------------- flag 32: precip clim outlier
def precip_clim_outlier_check(
    df: DataFrame,
    var: str = "pr",
    factor: float = 9.0,
    record_cap_mm: float = 442.0,
) -> DataFrame:
    """Flag 32 (qaqc_climatological_outlier.py:463-588): a daily total
    above ``factor`` × the calendar month's p95 of non-zero daily
    totals (or above the 442 mm CA record when p95 is 0) flags the
    day's native observations."""
    if var not in df.columns:
        return df
    daily = _daily_precip(df, var).withColumn("__moy", F.month("__day"))
    p95 = (
        daily.where(F.col("__daily") > 0)
        .groupBy("station", "__moy")
        .agg(F.expr("percentile(__daily, 0.95)").alias("__p95"))
    )
    joined = daily.join(p95, ["station", "__moy"], "left")
    bad_days = joined.where(
        F.when(
            F.col("__p95").isNull() | (F.col("__p95") == 0),
            F.col("__daily") > record_cap_mm,
        ).otherwise(
            (F.col("__daily") > factor * F.col("__p95"))
            | (F.col("__daily") > record_cap_mm)
        )
    ).select("station", "__day")
    return _flag_days(df, var, bad_days, FLAG_PR_CLIM)


# ------------------------------------------------- flag 33: precip gap
def precip_gap_check(
    df: DataFrame, var: str = "pr", threshold_mm: float = 200.0
) -> DataFrame:
    """Flag 33 (qaqc_unusual_gaps_precip, qaqc_unusual_gaps.py:
    449-554): a daily total whose distance from EVERY other daily
    total in the same (station, calendar month) exceeds the threshold.

    Rewritten from the reference's O(n²) pairwise matrix to a sorted
    neighbor scan: min distance to any other value = min distance to a
    sorted neighbor (SURVEY.md J6).
    """
    if var not in df.columns:
        return df
    daily = _daily_precip(df, var).withColumn(
        "__month", F.date_trunc("month", F.col("__day"))
    )
    w = Window.partitionBy("station", "__month").orderBy(
        "__daily", "__day"
    )
    gaps = daily.select(
        "station",
        "__month",
        "__day",
        "__daily",
        (F.col("__daily") - F.lag("__daily").over(w)).alias("__lo"),
        (F.lead("__daily").over(w) - F.col("__daily")).alias("__hi"),
    )
    nn = F.least(
        F.coalesce(F.col("__lo"), F.lit(float("inf"))),
        F.coalesce(F.col("__hi"), F.lit(float("inf"))),
    )
    # a lone day in a month has no neighbor — reference does not flag it
    bad_days = gaps.where(
        (nn > threshold_mm)
        & ~(F.col("__lo").isNull() & F.col("__hi").isNull())
    ).select("station", "__day")
    return _flag_days(df, var, bad_days, FLAG_PR_GAP)


# ---------------------------------------- multi-variable family fusion
def _melt_valid(
    df: DataFrame,
    vars: list[str],
    keep_yellow: bool = True,
    extra_cols: tuple[str, ...] = ("station", "time"),
) -> DataFrame:
    """ONE corpus pass for a whole check family: explode each row into
    (extra…, __var, __v) rows, keeping only rows valid for THAT
    variable (per-var ``valid_mask``). The per-variable checks in the
    battery each re-scanned the segment checkpoint to build their own
    ``valid`` subset; a family melted this way scans it once — the
    masks are per-var columns, so validity is exact per output row.

    Safe to hoist across the variables of one family because no check
    ever modifies VALUES (flags go to ``_eraqc`` columns) and a check
    on var A never writes var B's flag column (the one exception,
    synergistic_flag_copy, is its own chain step)."""
    structs = [
        F.struct(
            F.lit(v).alias("var"),
            F.col(v).alias("v"),
            (
                Q.valid_mask(v, keep_yellow=keep_yellow)
                & F.col(v).isNotNull()
            ).alias("ok"),
        )
        for v in vars
    ]
    return (
        df.select(*extra_cols, F.explode(F.array(*structs)).alias("__m"))
        .where(F.col("__m.ok"))
        .select(
            *extra_cols,
            F.col("__m.var").alias("__var"),
            F.col("__m.v").alias("__v"),
        )
    )


def same_hour_streak_multi(
    df: DataFrame, vars, min_days: int = 15
) -> DataFrame:
    """Flag 27 (hourly_repeats, qaqc_unusual_streaks.py:474-570): for a
    given hour-of-day, the same value repeating on > ``min_days``
    consecutive days (gap ≤ 1 day) is instrument failure.

    Clusters are runs of distinct *days* (find_date_clusters scans the
    sorted unique dates, :474-511); clustering distinct days rather
    than rows both matches the reference's day-count threshold and
    keeps the window sort free of same-day ties (deterministic).

    The family runs in ONE corpus pass (melt → one distinct → one
    sessionize keyed by (station, var, hour, value)); per-variable
    back-joins are broadcast, bin-table-sized. A var's check reads
    only its own values and flags and writes only its own ``_eraqc``
    column, so ``vars=[a, b]`` flags exactly as ``[a]`` then ``[b]``."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    days = (
        _melt_valid(df, vars)
        .select(
            "station",
            "__var",
            F.hour("time").alias("__hh"),
            F.to_date("time").alias("__day"),
            "__v",
        )
        .distinct()
    )
    w = Window.partitionBy("station", "__var", "__hh", "__v").orderBy(
        "__day"
    )
    clustered = sessionize(
        days.withColumn(
            "__gap", F.datediff(F.col("__day"), F.lag("__day").over(w))
        ),
        ["station", "__var", "__hh", "__v"],
        "__day",
        F.col("__gap") > 1,
        out="__cluster",
    )
    w_c = Window.partitionBy(
        "station", "__var", "__hh", "__v", "__cluster"
    )
    # checkpointed: one consumer per variable below — without the cut
    # each back-join would re-execute the melt + distinct + windows
    bad = (
        clustered.withColumn("__n_days", F.count(F.lit(1)).over(w_c))
        .where(F.col("__n_days") > min_days)
        .select("station", "__var", "__hh", "__v", "__day")
        .localCheckpoint(eager=False)
    )
    out = df.withColumn("__hh", F.hour("time")).withColumn(
        "__day", F.to_date("time")
    )
    for v in vars:
        bad_v = (
            bad.where(F.col("__var") == v)
            .select("station", "__hh", "__v", "__day")
            .withColumn("__bad_hour_day", F.lit(True))
        )
        out = (
            out.withColumn("__v", F.col(v))
            .join(
                F.broadcast(bad_v),
                ["station", "__hh", "__v", "__day"],
                "left",
            )
        )
        out = Q.write_flag(
            out, v, F.col("__bad_hour_day").isNotNull(), FLAG_STREAK_HOUR
        ).drop("__bad_hour_day", "__v")
    return out.drop("__hh", "__day")


def whole_day_streak_multi(
    df: DataFrame, vars, min_days: int = 5, round_digits: int = 1
) -> DataFrame:
    """Flag 29 (full_day_compare, qaqc_unusual_streaks.py:697-818): a
    run of > ``min_days`` consecutive days whose full rounded daily
    value-vector is identical to the previous day's. The family runs
    in ONE corpus pass (melt → one per-(station, var, day) vector
    aggregation); each var reads and writes only its own columns, as
    in ``same_hour_streak_multi``."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    days = (
        _melt_valid(df, vars)
        .groupBy("station", "__var", F.to_date("time").alias("__day"))
        .agg(
            F.sort_array(
                F.collect_list(F.round(F.col("__v"), round_digits))
            ).alias("__vec")
        )
    )
    w = ordered_window(["station", "__var"], "__day")
    same = days.withColumn(
        "__same",
        (F.col("__vec") == F.lag("__vec").over(w))
        & (F.datediff(F.col("__day"), F.lag("__day").over(w)) == 1),
    )
    runs = sessionize(
        same, ["station", "__var"], "__day", ~F.col("__same"), out="__run"
    )
    w_run = Window.partitionBy("station", "__var", "__run")
    bad_days = (
        runs.withColumn("__len", F.count(F.lit(1)).over(w_run))
        # a run of equal days of length L covers L+1 calendar days; the
        # reference counts repeats, we count rows with __same=true plus
        # the anchor — flag when strictly more than min_days repeats
        .where(F.col("__same") & (F.col("__len") >= min_days))
        .select("station", "__var", "__day")
        .localCheckpoint(eager=False)
    )
    out = df
    for v in vars:
        out = _flag_days(
            out,
            v,
            bad_days.where(F.col("__var") == v).select("station", "__day"),
            FLAG_STREAK_DAY,
        )
    return out


# ------------------------------------- flag 26: climatological outlier
def _butter_lowpass_order1(x: np.ndarray, cutoff_frac: float) -> np.ndarray:
    """Order-1 Butterworth low-pass via bilinear transform, forward
    pass (numpy-only; scipy absent in this environment).
    cutoff_frac = f_c / f_nyquist ∈ (0, 1)."""
    c = 1.0 / math.tan(math.pi * cutoff_frac / 2.0)
    b0 = 1.0 / (1.0 + c)
    b1 = b0
    a1 = (1.0 - c) / (1.0 + c)
    y = np.empty_like(x, dtype=float)
    prev_x = x[0]
    prev_y = x[0]
    for i, xi in enumerate(x):
        yi = b0 * xi + b1 * prev_x - a1 * prev_y
        y[i] = yi
        prev_x, prev_y = xi, yi
    return y


def _grid_gap_bounds(
    r: np.ndarray, bin_size: float = 0.25
) -> tuple[float | None, float | None]:
    """Histogram-grid outlier cutoffs with gap isolation — the
    fit_normal + gap_search machinery
    (qaqc_climatological_outlier.py:330-410 and :413-460).

    Builds the reference's symmetric bin grid, fits a normal
    (mean / population std, like ``stats.norm.fit``), scales the pdf
    by the histogram area, and finds the rising/falling grid indices
    where the scaled pdf crosses 0.1 ("expected count per bin" ≤ 0.1),
    with the reference's fallbacks (1 / len-2). Then scans outward
    from each crossing for the first *empty* bin: only tails separated
    from the body by such a gap are flagged (the "red" tier). Returns
    per-side value cutoffs, or None when no gap isolates that tail.
    """
    b_min = math.floor(np.nanmin(r))
    b_max = math.ceil(np.nanmax(r)) + bin_size
    bins0 = np.arange(b_min, b_max, bin_size)
    m = np.abs(bins0).max() if len(bins0) else bin_size
    bins = np.arange(-m - bin_size, m + 2 * bin_size, bin_size)
    freq, bins = np.histogram(r, bins=bins)
    area = (np.diff(bins) * freq).sum()
    mu, std = float(r.mean()), float(r.std())
    if std <= 0 or np.isclose(std, 0):
        return None, None
    p = (
        np.exp(-0.5 * ((bins - mu) / std) ** 2)
        / (std * math.sqrt(2 * math.pi))
        * area
    )
    g = np.gradient(p)
    il = np.where((g > 0) & (p <= 0.1))[0]
    left = int(il[-1]) if len(il) else 1
    ir = np.where((g < 0) & (p <= 0.1))[0]
    right = int(ir[0]) if len(ir) else len(bins) - 2
    cut_lo: float | None = None
    cut_hi: float | None = None
    for i in range(min(left, len(freq)) - 1, -1, -1):  # innermost→out
        if freq[i] < 0.1:
            cut_lo = float(bins[i + 1])
            break
    for j in range(right + 1, len(freq)):  # innermost→outward
        if freq[j] < 0.1:
            cut_hi = float(bins[j])
            break
    return cut_lo, cut_hi


_CUT_PERIOD_S = 3600.0 * 24 * 365 / 30  # reference cut_freq inverse
_WINSOR_LIMIT = 0.05  # per tail, like winsorize(limits=(0.05, 0.05))
_IQR_FLOOR = 1.5


def _q9_np(a):
    """Stage-boundary quantizer: rint(x*1e9)/1e9 — every op is a
    deterministic IEEE primitive (multiply, roundTiesToEven,
    divide), so DuckDB's round_even(x*1e9, 0)/1e9 reproduces it
    bit-for-bit (fuzzed for |x| ≤ 1e3 in tests/test_hardening_r5.py;
    all quantized stages here are standardized/residual-scale or
    tas-scale ≤ ~1e3)."""
    return np.rint(a * 1e9) / 1e9


def _bigint_to_double(v: int) -> float:
    """float(v) for beyond-int64 ints, spelled so SQL reproduces it
    exactly: one base-2^62 digit split, each digit BIGINT→DOUBLE
    (correctly rounded on both engines — verified; HUGEINT→DOUBLE is
    NOT), then a fixed mult+add chain."""
    q, r = divmod(v, 1 << 62)
    return float(q) * 4611686018427387904.0 + float(r)


def _grid_gap_bounds_exact(r: np.ndarray) -> tuple[float | None, float | None]:
    """`_grid_gap_bounds` in cross-engine-deterministic arithmetic:
    same histogram-grid + normal-fit + gap-isolation algorithm
    (qaqc_climatological_outlier.py:330-460), but moments come from
    exact integer nano-unit sums, exp() is scalar libm (numpy's SIMD
    exp can differ from libm by 1 ulp), and bin edges are exact
    quarter multiples, so a SQL oracle evaluating the same expression
    tree produces bit-identical cutoffs."""
    n = len(r)
    fmin = math.floor(float(r.min()))
    cmax = math.ceil(float(r.max()))
    m = max(abs(fmin), abs(cmax))
    n_edges = 8 * m + 3
    edges = (np.arange(n_edges, dtype=np.float64) - (4 * m + 1)) * 0.25
    idx = np.searchsorted(edges, r, side="right") - 1
    freq = np.bincount(idx, minlength=n_edges - 1)
    r9n = np.rint(r * 1e9).astype(np.int64)
    mu = float(int(r9n.sum())) / n / 1e9
    dn = np.rint((r - mu) * 1e9).astype(np.int64)
    sq = sum(int(x) * int(x) for x in dn)  # Python ints: exact
    sigma = math.sqrt(_bigint_to_double(sq) / n) / 1e9
    if sigma <= 1e-8:
        return None, None
    area = 0.25 * n
    s2pi = math.sqrt(2 * math.pi)
    p = np.array(
        [
            math.exp(-0.5 * (((e - mu) / sigma) * ((e - mu) / sigma)))
            / (sigma * s2pi)
            * area
            for e in edges
        ]
    )
    g = np.empty_like(p)
    g[0] = p[1] - p[0]
    g[-1] = p[-1] - p[-2]
    g[1:-1] = (p[2:] - p[:-2]) / 2.0
    il = np.where((g > 0) & (p <= 0.1))[0]
    left = int(il[-1]) if len(il) else 1
    ir = np.where((g < 0) & (p <= 0.1))[0]
    right = int(ir[0]) if len(ir) else n_edges - 2
    cut_lo: float | None = None
    cut_hi: float | None = None
    for i in range(min(left, len(freq)) - 1, -1, -1):
        if freq[i] == 0:
            cut_lo = float(edges[i + 1])
            break
    for j in range(right + 1, len(freq)):
        if freq[j] == 0:
            cut_hi = float(edges[j])
            break
    return cut_lo, cut_hi


def _clim_fast_per_station(
    pdf: pd.DataFrame, var: str, flag_col: str
) -> pd.DataFrame:
    """Clim-outlier island for one station and one variable (the steps
    listed in ``climatological_outlier_multi``). Reads ``var`` and its
    flag column; returns the flagged (station, time) keys."""
    pdf = pdf.sort_values("time").reset_index(drop=True)
    mask = pdf[flag_col].isnull() & pdf[var].notna()
    empty = pdf.iloc[0:0][["station", "time"]]
    if mask.sum() < 20:
        return empty
    sub = pdf.loc[mask, ["time", var]].copy()
    key = sub["time"].dt.month * 100 + sub["time"].dt.hour

    # (month, hour) winsorized-mean climatology (rank-based, like
    # stats.mstats.winsorize)
    def clim(group: pd.Series) -> float:
        a = np.sort(group.to_numpy())
        n = len(a)
        k = int(_WINSOR_LIMIT * n)
        if k:
            a[:k] = a[k]
            a[n - k :] = a[n - k - 1]
        return float(a.mean())

    clim_map = sub[var].groupby(key).apply(clim)
    anom = sub[var].values - clim_map.loc[key].values

    # standardize by (month, hour) IQR (floored)
    iqr_map = (
        pd.Series(anom, index=key.values)
        .groupby(level=0)
        .apply(lambda g: max(g.quantile(0.75) - g.quantile(0.25), _IQR_FLOOR))
    )
    std = anom / iqr_map.loc[key.values].values

    # interpolate + low-pass at the reference's cut period
    s = pd.Series(std).interpolate(limit_direction="both").to_numpy()
    cadence = (
        sub["time"].diff().dt.total_seconds().dropna().mode().iloc[0]
        if len(sub) > 1
        else 3600.0
    )
    cutoff_frac = 2.0 * max(cadence, 1.0) / _CUT_PERIOD_S
    if cutoff_frac >= 1.0:  # reference bypass: cut_freq ≥ Nyquist
        return empty
    resid = s - _butter_lowpass_order1(s, cutoff_frac)

    # per (month, hour): grid-fit thresholds + gap isolation
    rmh = pd.DataFrame({"k": key.values, "r": resid})
    flags = np.zeros(len(rmh), dtype=bool)
    for _, g in rmh.groupby("k"):
        if len(g) <= 5:  # reference small-group bypass
            continue
        cut_lo, cut_hi = _grid_gap_bounds(g["r"].to_numpy())
        gm = np.zeros(len(g), dtype=bool)
        if cut_lo is not None:
            gm |= g["r"].to_numpy() <= cut_lo
        if cut_hi is not None:
            gm |= g["r"].to_numpy() >= cut_hi
        flags[g.index.to_numpy()] = gm
    if not flags.any():
        return empty
    hit = pdf.iloc[np.flatnonzero(mask.values)[flags]]
    return hit[["station", "time"]]


def _clim_exact_per_station(
    pdf: pd.DataFrame, var: str, flag_col: str
) -> pd.DataFrame:
    """Exact-mode clim-outlier island: the same algorithm as
    `_clim_fast_per_station`, respelled so
    every float is bit-reproducible by a SQL engine evaluating the
    same expression tree — winsorized means from exact nano-int sums,
    explicit linear-interpolation quantiles, stage-boundary `_q9_np`
    quantization, scalar-libm transcendentals, and the order-1
    Butterworth as a literal (b0*x + b1*x_prev − a1*y_prev) fold that
    a recursive CTE replays. See W13_ORACLE in queries/qaqc_parity2.py.
    """
    pdf = pdf.sort_values(["time", var]).reset_index(drop=True)
    mask = pdf[flag_col].isnull() & pdf[var].notna() & pdf["time"].notna()
    empty = pdf.iloc[0:0][["station", "time"]]
    if int(mask.sum()) < 20:
        return empty
    sub = pdf.loc[mask, ["station", "time", var]].reset_index(drop=True)
    t = sub["time"]
    v = sub[var].to_numpy()
    key = (t.dt.month * 100 + t.dt.hour).to_numpy()
    n_all = len(sub)

    uniq = np.unique(key)
    # (month, hour) winsorized-mean climatology, nano-int exact
    clim_by_key = {}
    for k in uniq:
        a = np.sort(v[key == k])
        n = len(a)
        kk = int(_WINSOR_LIMIT * n)
        if kk:
            a[:kk] = a[kk]
            a[n - kk :] = a[n - kk - 1]
        wn = np.rint(a * 1e9).astype(np.int64)
        clim_by_key[k] = float(int(wn.sum())) / n / 1e9
    anom = v - np.array([clim_by_key[k] for k in key])

    # IQR per key: explicit linear interpolation, Q9, floor
    def _quant(a: np.ndarray, qf: float) -> float:
        n = len(a)
        pos = qf * (n - 1)
        i = int(pos)
        gfrac = pos - i
        j = min(i + 1, n - 1)
        return float(a[i] + (a[j] - a[i]) * gfrac)

    denom_by_key = {}
    for k in uniq:
        a = np.sort(anom[key == k])
        iqr_raw = _quant(a, 0.75) - _quant(a, 0.25)
        denom_by_key[k] = max(
            float(np.rint(iqr_raw * 1e9) / 1e9), _IQR_FLOOR
        )
    s = _q9_np(anom / np.array([denom_by_key[k] for k in key]))

    # cadence: modal microsecond gap (ties -> smallest)
    us = t.astype("datetime64[us]").astype("int64").to_numpy()
    vals, cnts = np.unique(np.diff(us), return_counts=True)
    cadence = float(int(vals[np.argmax(cnts)])) / 1e6
    cf = 2.0 * max(cadence, 1.0) / _CUT_PERIOD_S
    if cf >= 1.0:  # reference bypass: cut_freq >= Nyquist
        return empty
    c = 1.0 / math.tan(math.pi * cf / 2.0)
    b0 = 1.0 / (1.0 + c)
    a1 = (1.0 - c) / (1.0 + c)
    y = np.empty(n_all)
    prev_x = prev_y = s[0]
    for i in range(n_all):
        yi = b0 * s[i] + b0 * prev_x - a1 * prev_y
        y[i] = yi
        prev_x, prev_y = s[i], yi
    r = _q9_np(s - y)

    flags = np.zeros(n_all, dtype=bool)
    for k in uniq:
        gidx = np.flatnonzero(key == k)
        if len(gidx) <= 5:  # reference small-group bypass
            continue
        cut_lo, cut_hi = _grid_gap_bounds_exact(r[gidx])
        gm = np.zeros(len(gidx), dtype=bool)
        if cut_lo is not None:
            gm |= r[gidx] <= cut_lo
        if cut_hi is not None:
            gm |= r[gidx] >= cut_hi
        flags[gidx] |= gm
    if not flags.any():
        return empty
    return sub.loc[np.flatnonzero(flags), ["station", "time"]].drop_duplicates()


# ------------------------------------------------------------------ #
# Each check below runs a whole variable family in ONE melted corpus
# pass. A var's check reads only its own values and its own prior
# flags, and writes only its own _eraqc column (the one cross-var
# writer, synergistic_flag_copy, is its own chain step AFTER the
# family), so ``vars=[a, b]`` flags exactly as ``[a]`` then ``[b]``.
# ------------------------------------------------------------------ #
def _width_expr(vars: list[str]):
    e = F.lit(1.0)
    for v in vars:
        e = F.when(
            F.col("__var") == v, F.lit(BIN_WIDTHS.get(v, 1.0))
        ).otherwise(e)
    return e


def record_length_bypass_multi(
    df: DataFrame, vars, min_years: int = 5
) -> DataFrame:
    """Flags 19/20 (A11, qaqc_utils.py:203-323): a (station, calendar
    month) with fewer than ``min_years`` distinct years of valid data
    is too short for distribution tests — yellow-flag it (20) so the
    distribution checks skip it but plain checks still run."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    years = (
        _melt_valid(df, vars)
        .groupBy("station", "__var", _moy().alias("__moy"))
        .agg(F.countDistinct(F.year("time")).alias("__n_years"))
    )
    short = (
        years.where(F.col("__n_years") < min_years)
        .select("station", "__var", "__moy")
        .localCheckpoint(eager=False)
    )
    out = df.withColumn("__moy", _moy())
    for v in vars:
        short_v = (
            short.where(F.col("__var") == v)
            .select("station", "__moy")
            .withColumn("__too_short", F.lit(True))
        )
        out = out.join(
            F.broadcast(short_v), ["station", "__moy"], "left"
        )
        out = Q.write_flag(
            out,
            v,
            F.col("__too_short").isNotNull() & F.col(v).isNotNull(),
            Q.FLAG_YELLOW_VARIABLE,
        ).drop("__too_short")
    return out.drop("__moy")


def frequent_values_multi(
    df: DataFrame,
    vars,
    annual_min_count: int = 30,
    seasonal_min_count: int = 20,
    dominance: float = 0.5,
    neighborhood: int = 3,
) -> DataFrame:
    """Flags 24 (whole-record) / 25 (seasonal) (qaqc_frequent.py:
    223-563): a histogram bin holding > ``dominance`` of its ±3-bin
    block with enough observations marks all its values as suspiciously
    frequent. Three granularities run: whole-record (threshold 30),
    per-season over the record (20), and per-season-per-year (15, with
    December attributed to the following winter-year). Seasons are
    DJF/MAM/JJA/SON. tas ↔ tdps are synergistically flagged by the
    caller (L10).

    DELIBERATE DEVIATION (SURVEY.md §7): the reference stages a
    provisional flag 100 from the whole-record pass and lets the
    per-year passes confirm or clear it (qaqc_frequent.py:126-185);
    here each granularity flags directly — a bin dominant over the
    whole record is flagged even if no single year confirms it
    (strictly more conservative, order-independent).

    ONE corpus pass builds the finest melted histogram per (var,
    station, season, season-year, bin); the annual and seasonal
    granularities roll up from it (counts are additive)."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    season = (
        F.when(F.month("time").isin(12, 1, 2), "DJF")
        .when(F.month("time").isin(3, 4, 5), "MAM")
        .when(F.month("time").isin(6, 7, 8), "JJA")
        .otherwise("SON")
    )
    season_year = F.year("time") + F.when(
        F.month("time") == 12, F.lit(1)
    ).otherwise(F.lit(0))
    melted = _melt_valid(df, vars).select(
        "station",
        "__var",
        season.alias("__season"),
        season_year.alias("__syear"),
        F.floor(F.col("__v") / _width_expr(vars)).alias("__bin"),
    )
    finest = (
        melted.groupBy("station", "__var", "__season", "__syear", "__bin")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint(eager=False)
    )

    def bad_bins(grouped: DataFrame, keys: list[str], min_count: int):
        w = (
            Window.partitionBy("station", "__var", *keys)
            .orderBy("__bin")
            .rangeBetween(-neighborhood, neighborhood)
        )
        return (
            grouped.withColumn("__block", F.sum("__n").over(w))
            .where(
                (F.col("__n") > F.col("__block") * dominance)
                & (F.col("__n") > min_count)
            )
            .select("station", "__var", *keys, "__bin")
        )

    annual_bad = bad_bins(
        finest.groupBy("station", "__var", "__bin").agg(
            F.sum("__n").alias("__n")
        ),
        [],
        annual_min_count,
    ).localCheckpoint(eager=False)
    seasonal_bad = bad_bins(
        finest.groupBy("station", "__var", "__season", "__bin").agg(
            F.sum("__n").alias("__n")
        ),
        ["__season"],
        seasonal_min_count,
    ).localCheckpoint(eager=False)
    yearly_bad = bad_bins(
        finest, ["__season", "__syear"], 15
    ).localCheckpoint(eager=False)

    out = df.withColumn("__season", season).withColumn(
        "__syear", season_year
    )
    for v in vars:
        width = BIN_WIDTHS.get(v, 1.0)
        out = out.withColumn("__bin", F.floor(F.col(v) / F.lit(width)))
        a_v = (
            annual_bad.where(F.col("__var") == v)
            .select("station", "__bin")
            .withColumn("__freq_a", F.lit(True))
        )
        out = out.join(F.broadcast(a_v), ["station", "__bin"], "left")
        out = Q.write_flag(
            out, v, F.col("__freq_a").isNotNull(), FLAG_FREQ_ANNUAL
        ).drop("__freq_a")
        s_v = (
            seasonal_bad.where(F.col("__var") == v)
            .select("station", "__season", "__bin")
            .withColumn("__freq_s", F.lit(True))
        )
        out = out.join(
            F.broadcast(s_v), ["station", "__season", "__bin"], "left"
        )
        out = Q.write_flag(
            out, v, F.col("__freq_s").isNotNull(), FLAG_FREQ_SEASONAL
        ).drop("__freq_s")
        y_v = (
            yearly_bad.where(F.col("__var") == v)
            .select("station", "__season", "__syear", "__bin")
            .withColumn("__freq_y", F.lit(True))
        )
        out = out.join(
            F.broadcast(y_v),
            ["station", "__season", "__syear", "__bin"],
            "left",
        )
        out = Q.write_flag(
            out, v, F.col("__freq_y").isNotNull(), FLAG_FREQ_SEASONAL
        ).drop("__freq_y")
    return out.drop("__bin", "__season", "__syear")


def monthly_median_gap_multi(
    df: DataFrame, vars, iqr_thresh: float = 5.0
) -> DataFrame:
    """Flag 21 (qaqc_dist_gap_part1, qaqc_unusual_gaps.py:113-212): a
    (year, calendar-month) whose monthly median falls outside the
    month's climatological median ± iqr_thresh × IQR gets the whole
    month flagged. Per calendar month m: clim = median(var | month=m),
    IQR over the same slice (standardized_median_bounds,
    qaqc_plot.py:1464-1499); monthly medians per (year, m) compared
    against the bounds. Percentile state folds per (var, station,
    month) in one melted aggregation."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    valid = _melt_valid(df, vars, keep_yellow=False)
    clim = valid.groupBy("station", "__var", _moy().alias("__moy")).agg(
        F.expr("percentile(__v, 0.5)").alias("__clim"),
        (
            F.expr("percentile(__v, 0.75)")
            - F.expr("percentile(__v, 0.25)")
        ).alias("__iqr"),
    )
    yearly = valid.groupBy(
        "station",
        "__var",
        F.year("time").alias("__yr"),
        _moy().alias("__moy"),
    ).agg(F.expr("percentile(__v, 0.5)").alias("__med"))
    bad_months = (
        yearly.join(clim, ["station", "__var", "__moy"])
        .where(
            (
                F.col("__med")
                < F.col("__clim") - iqr_thresh * F.col("__iqr")
            )
            | (
                F.col("__med")
                > F.col("__clim") + iqr_thresh * F.col("__iqr")
            )
        )
        .select("station", "__var", "__yr", "__moy")
        .localCheckpoint(eager=False)
    )
    out = df.withColumn("__yr", F.year("time")).withColumn(
        "__moy", _moy()
    )
    for v in vars:
        b_v = (
            bad_months.where(F.col("__var") == v)
            .select("station", "__yr", "__moy")
            .withColumn("__bad_month", F.lit(True))
        )
        out = out.join(
            F.broadcast(b_v), ["station", "__yr", "__moy"], "left"
        )
        out = Q.write_flag(
            out, v, F.col("__bad_month").isNotNull(), FLAG_GAP_MONTH
        ).drop("__bad_month")
    return out.drop("__yr", "__moy")


def distribution_gap_multi(
    df: DataFrame,
    vars,
    pdf_floor: float = 0.1,
    min_gap_bins: int = 2,
) -> DataFrame:
    """Flag 22 (qaqc_dist_gap_part2, qaqc_unusual_gaps.py:215-344):
    per (station, calendar month), observations standardized by the
    month's median/IQR; a normal fit gives tail bounds where the
    fitted pdf drops below ``pdf_floor``; occupied histogram bins
    beyond the bounds AND separated from the body by ≥ ``min_gap_bins``
    empty bins are flagged.

    pdf(x) = 0.1 solved exactly for the fitted normal:
    |x−μ| > σ·sqrt(−2·ln(0.1·σ·√(2π))) (no bound when σ is large
    enough that the pdf never reaches 0.1). Bin width 0.25 IQR-units
    (qaqc_utils.py:59-71). The standardized histogram + moment
    partials fold per (var, station, month) in one melted pass; the
    moments are rounded to 9dp because distributed sums are
    shuffle-order sensitive in the last ulps."""
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    valid = _melt_valid(df, vars, keep_yellow=False)
    stats = (
        valid.groupBy("station", "__var", _moy().alias("__moy"))
        .agg(
            F.expr("percentile(__v, array(0.5, 0.25, 0.75))").alias(
                "__p"
            )
        )
        .select(
            "station",
            "__var",
            "__moy",
            F.col("__p")[0].alias("__med"),
            F.greatest(
                F.col("__p")[2] - F.col("__p")[1], F.lit(1e-9)
            ).alias("__iqr"),
        )
        .localCheckpoint(eager=False)
    )
    std = (
        valid.withColumn("__moy", _moy())
        .join(F.broadcast(stats), ["station", "__var", "__moy"])
        .withColumn(
            "__s", (F.col("__v") - F.col("__med")) / F.col("__iqr")
        )
        .withColumn("__bin", F.floor(F.col("__s") / F.lit(0.25)))
    )
    hist = std.groupBy("station", "__var", "__moy", "__bin").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__s").alias("__ss"),
        F.sum(F.col("__s") * F.col("__s")).alias("__ss2"),
    )
    moments = hist.groupBy("station", "__var", "__moy").agg(
        F.round(F.sum("__ss") / F.sum("__n"), 9).alias("__mu"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.sum("__ss2") / F.sum("__n")
                    - F.pow(F.sum("__ss") / F.sum("__n"), 2),
                    F.lit(0.0),
                )
            ),
            9,
        ).alias("__sigma"),
    )
    hist = hist.select("station", "__var", "__moy", "__bin", "__n")
    w_up = Window.partitionBy("station", "__var", "__moy").orderBy(
        "__bin"
    )
    w_dn = Window.partitionBy("station", "__var", "__moy").orderBy(
        F.desc("__bin")
    )
    hist2 = (
        hist.join(moments, ["station", "__var", "__moy"])
        .withColumn(
            "__z",
            F.when(
                F.lit(pdf_floor)
                * F.col("__sigma")
                * F.lit(math.sqrt(2 * math.pi))
                < 1.0,
                F.col("__sigma")
                * F.sqrt(
                    F.lit(-2.0)
                    * F.log(
                        F.lit(pdf_floor)
                        * F.col("__sigma")
                        * F.lit(math.sqrt(2 * math.pi))
                    )
                ),
            ),
        )
        .withColumn(
            "__gap_up", F.col("__bin") - F.lag("__bin").over(w_up)
        )
        .withColumn(
            "__gap_dn", F.lag("__bin").over(w_dn) - F.col("__bin")
        )
    )
    hi_bound = (F.col("__mu") + F.col("__z")) / 0.25
    lo_bound = (F.col("__mu") - F.col("__z")) / 0.25
    detached_hi = F.max(
        F.when(
            (F.col("__bin") > hi_bound)
            & (F.col("__gap_up") > min_gap_bins),
            F.col("__bin"),
        )
    ).over(
        Window.partitionBy("station", "__var", "__moy")
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    detached_lo = F.min(
        F.when(
            (F.col("__bin") < lo_bound)
            & (F.col("__gap_dn") > min_gap_bins),
            F.col("__bin"),
        )
    ).over(
        Window.partitionBy("station", "__var", "__moy")
        .orderBy("__bin")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    bad_bins = (
        hist2.withColumn("__dhi", detached_hi)
        .withColumn("__dlo", detached_lo)
        .where(
            F.col("__z").isNotNull()
            & (
                (
                    F.col("__dhi").isNotNull()
                    & (F.col("__bin") >= F.col("__dhi"))
                )
                | (
                    F.col("__dlo").isNotNull()
                    & (F.col("__bin") <= F.col("__dlo"))
                )
            )
        )
        .select("station", "__var", "__moy", "__bin")
        .localCheckpoint(eager=False)
    )
    out = df.withColumn("__moy", _moy())
    for v in vars:
        st_v = stats.where(F.col("__var") == v).drop("__var")
        out = (
            out.join(F.broadcast(st_v), ["station", "__moy"], "left")
            .withColumn(
                "__s", (F.col(v) - F.col("__med")) / F.col("__iqr")
            )
            .withColumn("__bin", F.floor(F.col("__s") / F.lit(0.25)))
        )
        bb_v = (
            bad_bins.where(F.col("__var") == v)
            .select("station", "__moy", "__bin")
            .withColumn("__bad_bin", F.lit(True))
        )
        out = out.join(
            F.broadcast(bb_v), ["station", "__moy", "__bin"], "left"
        )
        out = Q.write_flag(
            out,
            v,
            F.col("__bad_bin").isNotNull()
            & Q.valid_mask(v, keep_yellow=False)
            & F.col(v).isNotNull(),
            FLAG_GAP_DISTRIBUTION,
        ).drop("__med", "__iqr", "__s", "__bin", "__bad_bin")
    return out.drop("__moy")


def climatological_outlier_multi(
    df: DataFrame, vars, exact_mode: bool = False
) -> DataFrame:
    """Flag 26 (qaqc_climatological_outlier.py:33-247): per station —

    1. anomaly vs the (month, hour) winsorized-mean climatology (A5;
       rank-based winsorization like ``stats.mstats.winsorize`` with
       limits (0.05, 0.05));
    2. standardized by the (month, hour) IQR (floored at 1.5);
    3. low-passed with an order-1 Butterworth (the reference's
       1 051 200 s cut period) after linear interpolation (W9/W10);
    4. per (month, hour) group (> 5 values): histogram-grid normal-fit
       thresholds where the scaled pdf crosses 0.1, gap-isolated tails
       flagged (``_grid_gap_bounds``).

    Documented deviations (intent-preserving; SURVEY.md §7 "reference
    bugs to adjudicate"): (a) we flag outliers of the *residual*
    (std − low-pass) rather than of the low-passed series itself —
    the reference assigns ``df_valid[var] = filtered`` and so flags
    the smooth component, which suppresses exactly the point outliers
    the check documents (qaqc_climatological_outlier.py:177-183);
    (b) only gap-isolated ("red") tails flag — the reference's
    no-gap "yellow" tier also collapses into flag 26
    (flag_clim_outliers :297-320), which would flag every beyond-3σ
    value in ordinary noise; (c) the right-side red cutoff mirrors the
    left (the reference compares against ``right_bad_bins.max()``,
    flagging only the outermost bin — :289-294).

    The per-station sequential part runs in ONE ``applyInPandas``
    island for the whole family — the group is one station (the
    reference's unit of work), shipped once as the skinny projection
    (station, time, var..., flag...); output is just the flagged keys.
    Each variable runs its own island function (``exact_mode`` picks
    the SQL-reproducible ``_clim_exact_per_station``) on its own values
    and flags and writes only its own ``_eraqc`` column.
    """
    vars = [v for v in vars if v in df.columns]
    if not vars:
        return df
    island = _clim_exact_per_station if exact_mode else _clim_fast_per_station
    flag_cols = [Q.eraqc(v) for v in vars]

    def per_station(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = [
            island(pdf, v, fc).assign(var=v)
            for v, fc in zip(vars, flag_cols)
        ]
        return pd.concat(hits, ignore_index=True)[["station", "time", "var"]]

    skinny = df.select("station", "time", *vars, *flag_cols)
    bad_keys = skinny.groupBy("station").applyInPandas(
        per_station,
        schema="station string, time timestamp, var string",
    ).localCheckpoint(eager=False)
    out = df
    for v, flag_col in zip(vars, flag_cols):
        bk = (
            bad_keys.where(F.col("var") == v)
            .select("station", "time")
            .withColumn("__clim_bad", F.lit(True))
        )
        out = out.join(bk, ["station", "time"], "left")
        out = out.withColumn(
            flag_col,
            F.when(
                F.col("__clim_bad").isNotNull()
                & F.col(flag_col).isNull(),
                F.lit(float(FLAG_CLIM_OUTLIER)),
            ).otherwise(F.col(flag_col)),
        ).drop("__clim_bad")
    return out
