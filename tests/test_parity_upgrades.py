"""Multi-point spike confirmation and resolution-aware streak
thresholds (reference parity upgrades)."""

import numpy as np
import pandas as pd
import pytest

from historical_obs_platform_spark.operators import qaqc as Q
from historical_obs_platform_spark.plans.qaqc_chain import (
    consecutive_streak_multi,
    spike_check_multi,
    value_resolution_multi,
)


def _base(name, hours=24 * 40, round_to=None, seed=0):
    times = pd.date_range("2020-01-01", periods=hours, freq="h")
    rng = np.random.RandomState(seed)
    tas = (
        285.0
        + 8 * np.sin(np.arange(hours) * 2 * np.pi / 24)
        + rng.normal(0, 0.3, hours)
    )
    if round_to is not None:
        tas = np.round(tas / round_to) * round_to
    return pd.DataFrame({"station": name, "time": times, "tas": tas})


def test_multi_point_spikes(spark):
    pdf = _base("SPK")
    pdf.loc[300, "tas"] += 30.0                    # 1-point
    pdf.loc[[500, 501], "tas"] += 30.0             # 2-point excursion
    pdf.loc[[700, 701, 702], "tas"] += 30.0        # 3-point excursion
    df = Q.ensure_flag_columns(spark.createDataFrame(pdf))
    out = (
        spike_check_multi(df, ["tas"])
        .toPandas()
        .sort_values("time", ignore_index=True)
    )
    flagged = set(out.index[out["tas_eraqc"] == 23])
    assert {300, 500, 501, 700, 701, 702} <= flagged
    # no mass false positives
    assert len(flagged) <= 10


def test_resolution_tiers(spark):
    coarse = _base("COARSE", round_to=1.0, seed=1)
    fine = _base("FINE", seed=2)
    df = spark.createDataFrame(pd.concat([coarse, fine], ignore_index=True))
    res = {
        r.station: r.resolution_tier
        for r in value_resolution_multi(df, ["tas"]).collect()
    }
    assert res["COARSE"] == 1.0
    assert res["FINE"] == 0.1


def test_resolution_aware_streak_thresholds(spark):
    # identical 30-value runs: flagged at fine resolution (limit 24),
    # tolerated at coarse resolution (limit 40)
    coarse = _base("COARSE", round_to=1.0, seed=3)
    coarse.loc[100:129, "tas"] = 280.0
    fine = _base("FINE", seed=4)
    fine.loc[100:129, "tas"] = 280.123
    df = Q.ensure_flag_columns(
        spark.createDataFrame(pd.concat([coarse, fine], ignore_index=True))
    )
    out = consecutive_streak_multi(df, ["tas"]).toPandas()
    by_st = out.groupby("station")["tas_eraqc"].apply(
        lambda s: (s == 28).sum()
    )
    assert by_st["FINE"] == 30
    assert by_st["COARSE"] == 0
    # a 45-value coarse run exceeds the looser limit too
    coarse2 = _base("COARSE2", round_to=1.0, seed=5)
    coarse2.loc[100:144, "tas"] = 280.0
    out2 = consecutive_streak_multi(
        Q.ensure_flag_columns(spark.createDataFrame(coarse2)),
        ["tas"],
    ).toPandas()
    assert (out2["tas_eraqc"] == 28).sum() == 45
