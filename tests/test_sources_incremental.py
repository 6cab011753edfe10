"""CSV observation source, incremental upsert, merge report rollups."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from historical_obs_platform_spark.plans.incremental import (
    last_stored_time,
    upsert,
)
from historical_obs_platform_spark.plans.merge import (
    network_flag_rates,
    select_public_columns,
)
from historical_obs_platform_spark.sources.csv_obs import read_csv_obs


def test_read_csv_obs(spark, tmp_path):
    p = tmp_path / "madis.csv"
    p.write_text(
        "station,time,air_temp_set_1,dew_point_temperature_set_1d,junk\n"
        "MADIS_A,2020-01-01 00:00:00,285.2,280.1,x\n"
        "MADIS_A,2020-01-01 00:00:00,285.2,280.1,dup\n"   # duplicate key
        "MADIS_A,2020-01-01 01:00:00,-9999,280.2,y\n"     # sentinel temp
        ",2020-01-01 02:00:00,285.0,280.0,z\n"            # no station
        "MADIS_A,1975-01-01 00:00:00,285.0,280.0,old\n"   # pre-v1 period
    )
    out = read_csv_obs(spark, str(p)).toPandas().sort_values("time")
    assert len(out) == 2
    assert "tas" in out.columns and "tdps_derived" in out.columns
    assert out.iloc[0]["tas"] == pytest.approx(285.2)
    assert pd.isna(out.iloc[1]["tas"])  # sentinel nulled
    assert out.iloc[1]["tdps_derived"] == pytest.approx(280.2)


def test_upsert_keep_newest(spark):
    existing = spark.createDataFrame(
        pd.DataFrame(
            {
                "station": ["S"] * 3,
                "time": pd.date_range("2020-01-01", periods=3, freq="h"),
                "tas": [280.0, 281.0, 282.0],
            }
        )
    )
    incoming = spark.createDataFrame(
        pd.DataFrame(
            {
                "station": ["S"] * 2,
                "time": pd.date_range("2020-01-01 02:00", periods=2, freq="h"),
                "tas": [999.0, 283.0],  # overlap hour 2 + new hour 3
            }
        )
    )
    hw = last_stored_time(existing).collect()[0]
    assert str(hw.last_time) == "2020-01-01 02:00:00"
    out = (
        upsert(existing, incoming)
        .toPandas()
        .sort_values("time", ignore_index=True)
    )
    assert out["tas"].tolist() == [280.0, 281.0, 999.0, 283.0]


def test_upsert_idempotent(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "station": ["S"],
                "time": [pd.Timestamp("2020-01-01")],
                "tas": [280.0],
            }
        )
    )
    once = upsert(df, df)
    assert once.count() == 1


def test_public_column_filter(spark):
    pdf = pd.DataFrame(
        {
            "station": ["S"],
            "time": [pd.Timestamp("2020-01-01")],
            "tas": [280.0],
            "tas_eraqc": [None],
            "tas_qc": ["V"],          # raw network QC -> dropped
            "__helper": [1],          # intermediate -> dropped
        }
    )
    out = select_public_columns(spark.createDataFrame(pdf))
    assert set(out.columns) == {"station", "time", "tas", "tas_eraqc"}


def test_network_flag_rates(spark):
    counts = spark.createDataFrame(
        [
            ("NETA_1", "tas", 11, 5),
            ("NETA_2", "tas", 11, 3),
            ("NETB_1", "tas", 11, 2),
            ("NETB_1", "pr", 10, 7),
        ],
        "station string, variable string, flag int, n long",
    )
    out = network_flag_rates(counts).toPandas()
    got = {
        (r.network, r.variable, r.flag): r.n for r in out.itertuples()
    }
    assert got[("NETA", "tas", 11)] == 8
    assert got[("NETB", "tas", 11)] == 2
    assert got[("ALL", "tas", 11)] == 10
    assert got[("ALL", "pr", 10)] == 7


def test_read_csv_obs_period_end_exclusive(spark, tmp_path):
    """The v1 period is start-inclusive and end-exclusive, as
    NetworkSpec.period and clean_network: the last 5-minute stamp of
    2022-08-31 is kept, the first instant of 2022-09-01 dropped."""
    p = tmp_path / "edge.csv"
    p.write_text(
        "station,time,air_temp_set_1\n"
        "MADIS_A,1980-01-01 00:00:00,280.0\n"
        "MADIS_A,2022-08-31 23:55:00,281.0\n"
        "MADIS_A,2022-09-01 00:00:00,282.0\n"
    )
    out = read_csv_obs(spark, str(p)).toPandas().sort_values("time")
    assert [str(t) for t in out["time"]] == [
        "1980-01-01 00:00:00",
        "2022-08-31 23:55:00",
    ]
    assert list(out["tas"]) == [280.0, 281.0]
