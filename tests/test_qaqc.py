"""End-to-end QA/QC chain tests with planted defects (FIXTURES.md):
synthetic stations where the expected flag set is known exactly."""

import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from historical_obs_platform_spark.operators import qaqc as Q
from historical_obs_platform_spark.plans.qaqc_chain import run_qaqc
from historical_obs_platform_spark.plans.merge import (
    derive_missing,
    flag_counts,
    hourly_standardize,
)

HOURS = 24 * 40  # 40 days


def _station(name, t0="2020-01-01", hours=HOURS, lat=40.0, lon=-120.0, elev=100.0):
    times = pd.date_range(t0, periods=hours, freq="h")
    # stable seed (process-salted hash() made fixtures nondeterministic)
    rng = np.random.RandomState(zlib.crc32(name.encode()) % 2**31)
    tas = 285.0 + 8 * np.sin(np.arange(hours) * 2 * np.pi / 24) + rng.normal(0, 0.3, hours)
    return pd.DataFrame(
        {
            "station": name,
            "time": times,
            "lat": lat,
            "lon": lon,
            "elevation": elev,
            "tas": tas,
            "tdps": tas - 5.0,
            "pr": np.round(rng.uniform(0, 2, hours), 2),
            "sfcWind": np.round(rng.uniform(0.5, 10, hours), 1),
            "sfcWind_dir": np.round(rng.uniform(1, 360, hours), 0),
            "ps": 95000.0 + rng.normal(0, 100, hours),
        }
    )


@pytest.fixture(scope="module")
def qaqc_result(spark):
    a = _station("NET_A")
    # D1: world record — tas above 329.92 K
    a.loc[100, "tas"] = 340.0
    # D2: supersaturation — tdps > tas on two rows
    a.loc[[200, 201], "tdps"] = a.loc[[200, 201], "tas"] + 2.0
    # D8: spike — one isolated +30 K excursion
    a.loc[300, "tas"] += 30.0
    # D4/L6 interplay: negative precip is caught by the world-record
    # minimum (0) first, exactly as in the reference order
    a.loc[400, "pr"] = -5.0
    # D5: calm wind with nonzero direction
    a.loc[500, ["sfcWind", "sfcWind_dir"]] = [0.0, 90.0]
    # D5b: moving wind with direction 0 -> rewritten 360, flag 15
    a.loc[600, ["sfcWind", "sfcWind_dir"]] = [5.0, 0.0]
    # D19: sentinel value in tas
    a.loc[700, "tas"] = -999.0

    b = _station("NET_B")
    # D3: wet-bulb streak — tas == tdps for 30 hours
    b.loc[100:129, "tdps"] = b.loc[100:129, "tas"].to_numpy()
    # D9: straight streak — constant tas for 30 hours
    b.loc[400:429, "tas"] = 280.0

    c = _station("NET_C")
    # D17: whole-station rejection — lat/lon all null
    c["lat"] = np.nan
    c["lon"] = np.nan

    d = _station("NET_D")
    # D18/L8: two elevations >50 m apart; minority flagged 36
    d.loc[: HOURS // 4, "elevation"] = 200.0  # minority (~25%)
    d.loc[HOURS // 4 + 1 :, "elevation"] = 100.0
    # D21: pressure delivered in hPa (mean < 10000)
    d["ps"] = d["ps"] / 100.0

    pdf = pd.concat([a, b, c, d], ignore_index=True)
    sdf = spark.createDataFrame(pdf)
    # 40-day records are below the ≥5-year distribution-test gate, so
    # run the structural/logic chain here; tests/test_distribution.py
    # exercises the full chain on 6-year stations.
    out = run_qaqc(
        sdf, sentinels={"tas": ["-999", "-999.0"]}, with_distribution=False
    )
    return out.toPandas().set_index(["station", "time"]).sort_index()


def _flags(res, station, var):
    s = res.loc[station][f"{var}_eraqc"]
    return s[s.notna()]


def test_d1_world_record(qaqc_result):
    f = _flags(qaqc_result, "NET_A", "tas")
    t340 = qaqc_result.loc["NET_A"].query("tas == 340.0")
    assert len(t340) == 1
    assert f.loc[t340.index[0]] == 11


def test_d2_supersaturation(qaqc_result):
    f = _flags(qaqc_result, "NET_A", "tdps")
    assert (f == 12).sum() == 2


def test_d8_spike(qaqc_result):
    f = _flags(qaqc_result, "NET_A", "tas")
    assert (f == 23).sum() >= 1


def test_d4_negative_precip_caught_by_world_record(qaqc_result):
    f = _flags(qaqc_result, "NET_A", "pr")
    pr_neg = qaqc_result.loc["NET_A"].query("pr == -5.0")
    assert f.loc[pr_neg.index[0]] == 11


def test_d5_calm_wind_dir(qaqc_result):
    a = qaqc_result.loc["NET_A"]
    bad = a[(a["sfcWind"] == 0.0) & (a["sfcWind_dir"] == 90.0)]
    assert len(bad) == 1
    assert bad["sfcWind_dir_eraqc"].iloc[0] == 14


def test_d5b_northerly_rewrite(qaqc_result):
    a = qaqc_result.loc["NET_A"]
    rewritten = a[a["sfcWind_dir_eraqc"] == 15]
    assert len(rewritten) == 1
    assert rewritten["sfcWind_dir"].iloc[0] == 360.0
    assert rewritten["sfcWind"].iloc[0] == 5.0


def test_d19_sentinel_nulled_not_flagged(qaqc_result):
    a = qaqc_result.loc["NET_A"]
    assert not (a["tas"] == -999.0).any()
    assert a["tas"].isna().sum() == 1


def test_d3_wetbulb_streak(qaqc_result):
    f = _flags(qaqc_result, "NET_B", "tdps")
    assert (f == 13).sum() == 30


def test_d9_straight_streak(qaqc_result):
    f = _flags(qaqc_result, "NET_B", "tas")
    assert (f == 28).sum() == 30


def test_d17_station_rejected(qaqc_result):
    assert "NET_C" not in qaqc_result.index.get_level_values(0)


def test_d18_elevation_minority_flagged(qaqc_result):
    d = qaqc_result.loc["NET_D"]
    flagged = d[d["elevation_eraqc"] == 36]
    assert len(flagged) > 0
    assert (flagged["elevation"] == 200.0).all()


def test_d21_pressure_units_fixed(qaqc_result):
    d = qaqc_result.loc["NET_D"]
    assert d["ps"].mean() > 90000
    assert not (d["ps_eraqc"] == 11).any()


def test_clean_twin_unflagged(qaqc_result):
    """The undisturbed remainder of NET_A must be (almost) flag-free:
    no check may over-flag clean data."""
    a = qaqc_result.loc["NET_A"]
    n = len(a)
    for var in ("tas", "tdps", "pr", "sfcWind", "ps"):
        flagged = a[f"{var}_eraqc"].notna().sum()
        assert flagged <= 0.01 * n, f"{var}: {flagged}/{n} flagged"


def test_negative_precip_flag_direct(spark):
    """Flag 10 fires when the negative-precip check runs standalone
    (in the full chain the world-record minimum 0 wins, as in the
    reference order)."""
    pdf = pd.DataFrame(
        {
            "station": ["S"] * 3,
            "time": pd.date_range("2020-01-01", periods=3, freq="h"),
            "pr": [1.0, -3.0, 0.5],
        }
    )
    df = Q.ensure_flag_columns(spark.createDataFrame(pdf))
    out = Q.negative_precip_check(df).toPandas()
    assert list(out["pr_eraqc"].fillna(0)) == [0, 10, 0]


def test_precip_accum_ordering(spark):
    pdf = pd.DataFrame(
        {
            "station": ["S"] * 3,
            "time": pd.date_range("2020-01-01", periods=3, freq="h"),
            "pr_5min": [1.0, 9.0, 0.5],
            "pr_1h": [2.0, 3.0, 1.0],
        }
    )
    df = Q.ensure_flag_columns(spark.createDataFrame(pdf))
    out = (
        Q.precip_accum_ordering_check(df)
        .toPandas()
        .sort_values("time", ignore_index=True)
    )
    assert out["pr_5min_eraqc"].fillna(0).tolist() == [0, 16, 0]
    assert out["pr_1h_eraqc"].fillna(0).tolist() == [0, 17, 0]


def test_deaccumulate_precip(spark):
    pdf = pd.DataFrame(
        {
            "station": ["S"] * 5,
            "time": pd.date_range("2020-01-01", periods=5, freq="h"),
            "accum_pr": [10.0, 12.5, 12.5, 0.0, 1.0],  # reset at idx 3
        }
    )
    from historical_obs_platform_spark.plans.qaqc_chain import (
        deaccumulate_precip,
    )

    df = Q.ensure_flag_columns(spark.createDataFrame(pdf))
    out = (
        deaccumulate_precip(df).toPandas().sort_values("time", ignore_index=True)
    )
    assert out["pr"].fillna(-1).tolist() == [-1, 2.5, 0.0, 0.0, 1.0]
    assert (out["accum_pr_eraqc"] == 35).all()


def test_derive_missing_and_synergistic_flag(spark):
    pdf = pd.DataFrame(
        {
            "station": ["S"] * 3,
            "time": pd.date_range("2020-01-01", periods=3, freq="h"),
            "tas": [290.0, 295.0, 300.0],
            "hurs": [50.0, 80.0, 100.0],
            "tas_eraqc": [None, 11.0, None],
            "hurs_eraqc": [None, None, None],
        }
    )
    out = derive_missing(spark.createDataFrame(pdf)).toPandas().sort_values(
        "time", ignore_index=True
    )
    assert "tdps_derived" in out.columns
    assert out["tdps_derived"].notna().all()
    assert (out["tdps_derived"] <= out["tas"] + 0.1).all()
    # synergistic flag 38 exactly where an input was flagged
    assert out["tdps_derived_eraqc"].fillna(0).tolist() == [0, 38, 0]


def test_hourly_standardize(spark):
    times = pd.to_datetime(
        [
            "2020-01-01 00:10",
            "2020-01-01 00:40",
            "2020-01-01 01:20",
            # hour 02 missing entirely -> infill row
            "2020-01-01 03:05",
        ]
    )
    pdf = pd.DataFrame(
        {
            "station": ["S"] * 4,
            "time": times,
            "lat": 40.0,
            "lon": -120.0,
            "elevation": 10.0,
            "tas": [280.0, 281.0, 282.0, 283.0],
            "pr": [1.0, 2.0, 0.5, np.nan],
            "tas_eraqc": [None, 23.0, None, None],
            "pr_eraqc": [None, None, None, None],
        }
    )
    out = (
        hourly_standardize(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("time", ignore_index=True)
    )
    assert len(out) == 4  # hours 00..03
    h0 = out.iloc[0]
    assert h0["tas"] == 280.0  # first in hour
    assert h0["pr"] == 3.0  # summed
    assert h0["tas_eraqc"] == "23"  # distinct flags joined
    h2 = out.iloc[2]
    assert h2["standardized_infill"] == "y"
    assert h2["lat"] == 40.0  # constant carried onto infill row
    assert pd.isna(h2["pr"])  # no obs -> null, not 0
    h3 = out.iloc[3]
    assert h3["pr"] is None or pd.isna(h3["pr"])  # all-NaN hour sums to null


def test_flag_counts(spark):
    pdf = pd.DataFrame(
        {
            "station": ["S1", "S1", "S2", "S2"],
            "time": pd.date_range("2020-01-01", periods=4, freq="h"),
            "tas": [1.0, 2.0, 3.0, 4.0],
            "tas_eraqc": ["11,23", "11", None, ""],
            "tdps_eraqc": ["", "12", "12,23", "23"],
            "ps_eraqc": [None, None, None, None],
            "sfcWind_eraqc": ["8", "", "8,23", None],
        }
    )
    out = flag_counts(spark.createDataFrame(pdf)).toPandas()
    got = {
        (r.station, r.variable, r.flag): r.n for r in out.itertuples()
    }
    assert got == {
        ("S1", "tas", 11): 2,
        ("S1", "tas", 23): 1,
        ("S1", "tdps", 12): 1,
        ("S2", "tdps", 12): 1,
        ("S2", "tdps", 23): 2,
        ("S1", "sfcWind", 8): 1,
        ("S2", "sfcWind", 8): 1,
        ("S2", "sfcWind", 23): 1,
    }
    assert list(out.columns) == ["station", "variable", "flag", "n"]


def test_sensor_height_gates(spark):
    """Flags 6/7/8/9: whole-station instrument-height gates
    (qaqc_wholestation.py:579-689) — missing → 6/8, off-nominal →
    7/9, conforming stations untouched, prior flags not overwritten."""
    from pyspark.sql import functions as F

    from historical_obs_platform_spark.operators import qaqc as Q

    rows = [
        # station, tas, wind, dir, therm_h, anem_h
        ("miss_t", 280.0, 3.0, 90.0, None, 10.1),
        ("miss_t", 281.0, 3.0, 90.0, 2.0, 10.1),   # any-null => whole stn
        ("off_t", 280.0, 3.0, 90.0, 3.0, 10.0),
        ("ok", 280.0, 3.0, 90.0, 2.2, 9.8),
        ("miss_w", 280.0, 3.0, 90.0, 2.0, None),
        ("off_w", 280.0, 3.0, 90.0, 2.0, 12.5),
    ]
    df = spark.createDataFrame(
        rows,
        "station string, tas double, sfcWind double, sfcWind_dir double,"
        " thermometer_height_m double, anemometer_height_m double",
    )
    out = Q.station_checks(df, [Q.sensor_height_check])
    got = {
        (r.station, r.tas_eraqc, r.sfcWind_eraqc, r.sfcWind_dir_eraqc)
        for r in out.collect()
    }
    assert ("miss_t", 6.0, None, None) in got
    assert ("off_t", 7.0, None, None) in got
    assert ("ok", None, None, None) in got
    assert ("miss_w", None, 8.0, 8.0) in got
    assert ("off_w", None, 9.0, 9.0) in got

    # valid-mask: a pre-existing tas flag is not overwritten
    pre = df.withColumn(
        "tas_eraqc",
        F.when(F.col("station") == "miss_t", 11.0).cast("double"),
    )
    out2 = Q.station_checks(pre, [Q.sensor_height_check])
    vals = {
        r.tas_eraqc for r in out2.where(F.col("station") == "miss_t").collect()
    }
    assert vals == {11.0}


def _station_stats_frame():
    """One 6-hour station per station-statistics path: gate rejects
    (no lat/lon; median elevation out of range), two and many
    elevations, hPa pressure, missing and off-nominal sensor heights."""
    specs = {
        # station: (lat, lon, elevations, thermometer_h, anemometer_h, ps)
        "NOLL": (None, None, [50.0] * 6, 2.0, 10.0, 90000.0),
        "HIGH": (40.0, -120.0, [7000.0] * 5 + [100.0], 2.0, 10.0, 90000.0),
        "TWO": (40.0, -120.0, [100.0] * 4 + [200.0] * 2, 2.0, 10.0, 90000.0),
        "MANY": (
            40.0, -120.0, [100.0, 104.0, 100.0, 300.0, 102.0, None],
            2.1, 9.9, 90000.0,
        ),
        "HPA": (41.0, -121.0, [20.0] * 6, 2.0, 10.0, 950.0),
        "NOH": (42.0, -122.0, [30.0] * 6, None, None, 90000.0),
        "OFF": (43.0, -123.0, [40.0] * 6, 3.0, 12.0, 90000.0),
    }
    rows = []
    for st, (lat, lon, elevs, th, ah, ps) in specs.items():
        for i, e in enumerate(elevs):
            rows.append(
                {
                    "station": st,
                    "time": pd.Timestamp("2020-01-01") + pd.Timedelta(hours=i),
                    "lat": lat,
                    "lon": lon,
                    "elevation": e,
                    # NOH misses its thermometer height on 5 of 6 rows
                    "thermometer_height_m": 2.0 if st == "NOH" and i == 0 else th,
                    "anemometer_height_m": ah,
                    "tas": 280.0 + i,
                    "sfcWind": 3.0,
                    "sfcWind_dir": 90.0,
                    "ps": ps + i,
                }
            )
    return pd.DataFrame(rows)


def _hours(station, tas, wind, elev_by_hour, ps0, ps_step=1.0):
    return [
        (station, h, tas, wind, wind, elev_by_hour.get(h), ps0 + ps_step * h)
        for h in range(6)
    ]


# (station, hour, tas, sfcWind, sfcWind_dir and elevation flags, ps)
EXPECTED_STATION_CHECKS = (
    _hours("HPA", None, None, {}, 95000.0, 100.0)
    + _hours("MANY", None, None, {3: 36.0}, 90000.0)
    + _hours("NOH", 6.0, 8.0, {}, 90000.0)
    + _hours("OFF", 7.0, 9.0, {}, 90000.0)
    + _hours("TWO", None, None, {4: 36.0, 5: 36.0}, 90000.0)
)


def test_station_checks_fixed_frame(spark):
    """Gates, sensor heights, elevation consistency and the pressure
    fix from one station-statistics join; expected values are the
    output of the earlier one-aggregate-per-check implementation."""
    df = Q.ensure_flag_columns(spark.createDataFrame(_station_stats_frame()))
    assert sorted(map(tuple, Q.station_gates(df).collect())) == [
        ("HIGH", "elevation_out_of_range"),
        ("NOLL", "missing_latlon"),
    ]
    out = Q.station_checks(df)
    assert sorted(out.columns) == sorted(df.columns)
    got = (
        out.select(
            "station", "time", "tas_eraqc", "sfcWind_eraqc",
            "sfcWind_dir_eraqc", "elevation_eraqc", "ps",
        )
        .toPandas()
        .sort_values(["station", "time"])
    )
    got = [
        (r.station, r.time.hour,
         *[None if pd.isna(x) else x for x in
           (r.tas_eraqc, r.sfcWind_eraqc, r.sfcWind_dir_eraqc,
            r.elevation_eraqc)],
         r.ps)
        for r in got.itertuples(index=False)
    ]
    assert got == EXPECTED_STATION_CHECKS


def _wetbulb_frame():
    """Two stations, hourly, with both dew variables. Zero-depression
    runs: tdps spans 25 h at hours 10-35 and 23 h at hours 60-83;
    tdps_derived the other way round (23 h at 10-33, 25 h at 60-85).
    Station Y repeats X with a tas flag inside tdps's 25 h run, which
    splits it into runs too short to flag."""
    n = 120
    rows = []
    for st in ("X", "Y"):
        t = pd.date_range("2021-03-01", periods=n, freq="h")
        tas = 280.0 + (np.arange(n) % 7)
        tdps = tas - 3.0
        tdps_d = tas - 2.0
        tdps[10:36] = tas[10:36]
        tdps[60:84] = tas[60:84]
        tdps_d[10:34] = tas[10:34]
        tdps_d[60:86] = tas[60:86]
        tas_f = np.full(n, np.nan)
        if st == "Y":
            tas_f[22] = 11.0
        rows.append(
            pd.DataFrame(
                {"station": st, "time": t, "tas": tas, "tdps": tdps,
                 "tdps_derived": tdps_d, "tas_eraqc": tas_f}
            )
        )
    return pd.concat(rows, ignore_index=True)


def test_wetbulb_streak_both_dew_variables(spark):
    """Each dew variable is tested on its own runs in one shared pass:
    25 h runs flag 13, 23 h runs do not, and a flagged tas row
    (invalid for the check) breaks a run."""
    df = Q.ensure_flag_columns(spark.createDataFrame(_wetbulb_frame()))
    got = (
        Q.wetbulb_streak_check(df)
        .select("station", "time", "tdps_eraqc", "tdps_derived_eraqc")
        .toPandas()
        .sort_values(["station", "time"])
    )
    hour = (got["time"] - pd.Timestamp("2021-03-01")).dt.total_seconds() // 3600

    def flagged(st, col):
        sel = (got["station"] == st) & (got[col] == 13)
        return sorted(hour[sel].astype(int))

    assert flagged("X", "tdps_eraqc") == list(range(10, 36))
    assert flagged("X", "tdps_derived_eraqc") == list(range(60, 86))
    # tas flagged at hour 22: 10-21 and 23-35 are runs of 11 h and 12 h
    assert flagged("Y", "tdps_eraqc") == []
    assert flagged("Y", "tdps_derived_eraqc") == list(range(60, 86))
    assert got[["tdps_eraqc", "tdps_derived_eraqc"]].isin([13.0]).sum().sum() == (
        26 + 26 + 26
    )
