"""Distribution-test battery on 6-year synthetic stations with planted
defects (FIXTURES.md D10-D16 + streak variants D9/27/29) — expected
flag sets known exactly; precedence between tests follows the
reference chain order."""

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from historical_obs_platform_spark.operators import distribution as D
from historical_obs_platform_spark.operators import qaqc as Q
from historical_obs_platform_spark.plans.qaqc_chain import (
    consecutive_streak_multi,
    run_qaqc,
    spike_check_multi,
)

YEARS = 6
HOURS = YEARS * 365 * 24


def _station(name, amp=8.0, noise=0.3, pr=False, seed=None):
    times = pd.date_range("2015-01-01", periods=HOURS, freq="h")
    # NB zlib.crc32, not hash(): Python's str hash is salted per
    # process, which made fixture data differ between pytest runs
    rng = np.random.RandomState((seed or zlib.crc32(name.encode())) % 2**31)
    tas = (
        285.0
        + amp * np.sin(np.arange(HOURS) * 2 * np.pi / 24)
        + rng.normal(0, noise, HOURS)
    )
    d = {
        "station": name,
        "time": times,
        "lat": 40.0,
        "lon": -120.0,
        "elevation": 100.0,
        "tas": tas,
    }
    if pr:
        d["pr"] = np.round(rng.uniform(0.5, 1.5, HOURS), 2)
    return pd.DataFrame(d)


@pytest.fixture(scope="module")
def dist_result(spark):
    # D10: frequent value — 800 scattered rows pinned to 320.0 K
    freq = _station("ST_FREQ")
    idx = np.linspace(100, HOURS - 100, 800).astype(int)
    freq.loc[idx, "tas"] = 320.0

    # D11: one month's median shifted (low-amplitude station so the
    # shift clears 5×IQR while staying inside world records)
    gap1 = _station("ST_GAP1", amp=2.0)
    m = (gap1["time"].dt.year == 2018) & (gap1["time"].dt.month == 6)
    gap1.loc[m, "tas"] += 20.0
    n_gap1 = int(m.sum())

    # D12: isolated 18-row cluster far in July's distribution tail
    gap2 = _station("ST_GAP2", amp=2.0)
    julys = gap2.index[gap2["time"].dt.month == 7]
    cluster = julys[np.linspace(0, len(julys) - 1, 18).astype(int)]
    gap2.loc[cluster, "tas"] = gap2.loc[cluster, "tas"] + 15.0

    # D13: precip gap — one day totals ~300 mm, all others ~24 mm
    prgap = _station("ST_PRGAP", pr=True)
    day13 = (prgap["time"].dt.date == pd.Timestamp("2017-03-10").date())
    prgap.loc[day13, "pr"] = 12.5  # 24 h × 12.5 = 300 mm

    # D14: precip clim outlier — 250 mm day with a 180 mm neighbor so
    # the gap check (200 mm) stays quiet but 9×p95 fires
    prclim = _station("ST_PRCLIM", pr=True)
    d250 = (prclim["time"].dt.date == pd.Timestamp("2019-06-05").date())
    d180 = (prclim["time"].dt.date == pd.Timestamp("2019-06-20").date())
    prclim.loc[d250, "pr"] = 250.0 / 24
    prclim.loc[d180, "pr"] = 180.0 / 24

    # D15: stuck gauge — 6 consecutive identical 24 mm days
    prfreq = _station("ST_PRFREQ", pr=True)
    stuck = (prfreq["time"].dt.date >= pd.Timestamp("2016-04-01").date()) & (
        prfreq["time"].dt.date <= pd.Timestamp("2016-04-06").date()
    )
    prfreq.loc[stuck, "pr"] = 1.0

    # D16: climatological outlier — night hours carrying day-peak
    # values (inside the monthly distribution, far from the
    # (month,hour) climatology)
    clim = _station("ST_CLIM")
    nights = clim.index[
        (clim["time"].dt.hour == 3) & (clim["time"].dt.day == 15)
    ][:12]
    clim.loc[nights, "tas"] = 285.0 + 8.0  # the 3 PM peak, at 3 AM

    # D9/27: same-hour streak — hour 7 pinned for 20 consecutive days
    hourly = _station("ST_HOUR")
    h7 = hourly.index[
        (hourly["time"].dt.hour == 7)
        & (hourly["time"] >= "2020-02-01")
        & (hourly["time"] < "2020-02-21")
    ]
    # pin to the hour-7 climatological value (285 + 8·sin(2π·7/24))
    # so the clim-outlier check stays quiet and 27 is isolated
    hourly.loc[h7, "tas"] = round(285.0 + 8.0 * np.sin(2 * np.pi * 7 / 24), 1)

    # D9/29: whole-day replication — 6 repeats of one day's 24 values
    daily = _station("ST_DAY")
    src = daily.index[daily["time"].dt.date == pd.Timestamp("2019-05-01").date()]
    vec = daily.loc[src, "tas"].to_numpy()
    for k in range(1, 7):
        dst = daily.index[
            daily["time"].dt.date
            == (pd.Timestamp("2019-05-01") + pd.Timedelta(days=k)).date()
        ]
        daily.loc[dst, "tas"] = vec

    clean = _station("ST_CLEAN")

    pdf = pd.concat(
        [freq, gap1, gap2, prgap, prclim, prfreq, clim, hourly, daily, clean],
        ignore_index=True,
    )
    out = run_qaqc(
        spark.createDataFrame(pdf),
        spike_vars=("tas",),
        streak_vars=("tas",),
        dist_vars=("tas",),
    )
    res = out.toPandas().set_index(["station", "time"]).sort_index()
    return res, n_gap1


def _flags(res, station, var="tas"):
    s = res.loc[station][f"{var}_eraqc"]
    return s[s.notna()]


def test_d10_frequent_annual(dist_result):
    res, _ = dist_result
    f = _flags(res, "ST_FREQ")
    assert (f == 24).sum() == 800
    vals = res.loc["ST_FREQ"].query("tas_eraqc == 24")["tas"]
    assert (vals == 320.0).all()


def test_d11_monthly_median_gap(dist_result):
    res, n_gap1 = dist_result
    f = _flags(res, "ST_GAP1")
    flagged_21 = res.loc["ST_GAP1"].query("tas_eraqc == 21")
    assert len(flagged_21) == n_gap1
    assert (flagged_21.index.year == 2018).all()
    assert (flagged_21.index.month == 6).all()


def test_d12_distribution_gap(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_GAP2"].query("tas_eraqc == 22")
    assert len(flagged) == 18
    assert (flagged["tas"] > 295.0).all()


def test_d13_precip_gap(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_PRGAP"].query("pr_eraqc == 33")
    assert len(flagged) == 24
    assert (flagged.index.date == pd.Timestamp("2017-03-10").date()).all()


def test_d14_precip_clim_outlier(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_PRCLIM"].query("pr_eraqc == 32")
    assert len(flagged) == 24
    assert (flagged.index.date == pd.Timestamp("2019-06-05").date()).all()
    d180 = res.loc["ST_PRCLIM"][
        res.loc["ST_PRCLIM"].index.date == pd.Timestamp("2019-06-20").date()
    ]
    assert d180["pr_eraqc"].isna().all()


def test_d15_precip_frequent(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_PRFREQ"].query("pr_eraqc == 31")
    assert len(flagged) == 6 * 24


def test_d16_climatological_outlier(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_CLIM"].query("tas_eraqc == 26")
    assert len(flagged) == 12
    assert (flagged.index.hour == 3).all()


def test_d27_same_hour_streak(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_HOUR"].query("tas_eraqc == 27")
    assert len(flagged) == 20
    assert (flagged.index.hour == 7).all()


def test_d29_whole_day_replication(dist_result):
    res, _ = dist_result
    flagged = res.loc["ST_DAY"].query("tas_eraqc == 29")
    assert len(flagged) == 6 * 24


def test_clean_station_low_false_positive_rate(dist_result):
    res, _ = dist_result
    clean = res.loc["ST_CLEAN"]
    rate = clean["tas_eraqc"].notna().mean()
    assert rate < 0.005, f"false-flag rate {rate:.4%}"


# ------------------------------------------------------------------
# Family invariant: a variable's check reads only its own values and
# flags and writes only its own _eraqc column, so one fused call over
# (tas, tdps) flags exactly as two single-variable calls in sequence.
# Six Junes per station at 3-hourly cadence keep the frame small (the
# test's cost grows with rows); each variable carries its own planted
# defect for every family, on other stations or rows than the other
# variable's.
# ------------------------------------------------------------------
def _june(name, amp=8.0):
    st = _station(name, amp=amp)
    t = st["time"]
    st = st[(t.dt.month == 6) & (t.dt.hour % 3 == 0)].reset_index(drop=True)
    rng = np.random.RandomState(zlib.crc32(name.encode()) % 2**31 + 1)
    st["tdps"] = st["tas"] - 5.0 + rng.normal(0, 0.3, len(st))
    return st


def _pin_scattered(st, var, value):
    st.loc[np.linspace(50, len(st) - 50, 200).astype(int), var] = value


def _shift_june(st, var, year, delta=20.0):
    st.loc[st["time"].dt.year == year, var] += delta


def _tail_cluster(st, var):
    st.loc[np.linspace(10, len(st) - 10, 18).astype(int), var] += 15.0


def _night_peaks(st, var):
    st.loc[(st["time"].dt.hour == 3) & (st["time"].dt.day == 15), var] += 10.0


def _same_hour(st, var):
    t = st["time"]
    pin = (t.dt.hour == 6) & (t.dt.year == 2020) & (t.dt.day <= 20)
    st.loc[pin, var] = 280.0


def _repeat_day(st, var):
    days = st["time"].dt.day
    src = st.loc[(st["time"].dt.year == 2019) & (days == 1), var].to_numpy()
    for k in range(2, 9):
        st.loc[(st["time"].dt.year == 2019) & (days == k), var] = src


def _flat_run(st, var, start=300, n=30):
    st.loc[start : start + n - 1, var] = 281.5


def _two_var_frame():
    s1, s2, s3 = _june("FV_1"), _june("FV_2", amp=2.0), _june("FV_3", amp=2.0)
    s4, s5, s6, s7 = _june("FV_4"), _june("FV_5"), _june("FV_6"), _june("FV_7")
    _pin_scattered(s1, "tas", 320.0)
    _pin_scattered(s4, "tdps", 300.0)
    _shift_june(s2, "tas", 2018)
    _shift_june(s3, "tdps", 2016)
    _tail_cluster(s3, "tas")
    _tail_cluster(s2, "tdps")
    _night_peaks(s4, "tas")
    _night_peaks(s6, "tdps")
    _same_hour(s5, "tas")
    _same_hour(s1, "tdps")
    _repeat_day(s6, "tas")
    _repeat_day(s5, "tdps")
    s1.loc[500, "tas"] += 100.0
    s2.loc[[700, 701], "tdps"] += 30.0
    s7.loc[s7["time"].dt.year < 2019, "tas"] = np.nan
    s5.loc[s5["time"].dt.year < 2019, "tdps"] = np.nan
    _flat_run(s3, "tas")
    _flat_run(s6, "tdps", n=50)  # above the 0.1-tier limit of 48
    return pd.concat([s1, s2, s3, s4, s5, s6, s7], ignore_index=True)


@pytest.fixture(scope="module")
def two_var_obs(spark):
    return Q.ensure_flag_columns(spark.createDataFrame(_two_var_frame()))


@pytest.mark.parametrize(
    "family",
    [
        D.record_length_bypass_multi,
        D.frequent_values_multi,
        D.monthly_median_gap_multi,
        D.distribution_gap_multi,
        D.climatological_outlier_multi,
        D.same_hour_streak_multi,
        D.whole_day_streak_multi,
        consecutive_streak_multi,
        spike_check_multi,
    ],
    ids=lambda f: f.__name__,
)
def test_family_fused_equals_sequential(two_var_obs, family):
    cols = ["station", "time", "tas_eraqc", "tdps_eraqc"]

    def flags(df):
        return (
            df.select(*cols)
            .toPandas()
            .sort_values(["station", "time"], ignore_index=True)
        )

    fused = flags(family(two_var_obs, ["tas", "tdps"]))
    seq = flags(family(family(two_var_obs, ["tas"]), ["tdps"]))
    pd.testing.assert_frame_equal(fused, seq)
    assert fused["tas_eraqc"].notna().any()
    assert fused["tdps_eraqc"].notna().any()
