"""Clean stage — network parsers → canonical observations table +
station list (reference ``scripts/2_clean_data/*_clean.py``, §3.3).

The reference loops stations inside one Python process per network;
here the whole network prefix is one scan → parse → normalize →
dedup → write, and the station list is a grouped aggregate over the
same pass (the reference appends CSV rows per station,
``VALLEYWATER_clean.py:66-80, 249-264``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.isd import read_isd


def clean_isd(spark: SparkSession, path: str, bbox=None) -> DataFrame:
    """ISD network clean: parse, dedup on (station, time), stable
    order within station. Unit conversions and sentinel handling
    happen inside the parser (sources/isd.py)."""
    obs = read_isd(spark, path, bbox=bbox) if bbox else read_isd(spark, path)
    return obs.dropDuplicates(["station", "time"]).withColumn(
        "network", F.split(F.col("station"), "_").getItem(0)
    )


def station_list(obs: DataFrame) -> DataFrame:
    """Station metadata table (FIXTURES.md §2): one row per station
    with network, representative coordinates, record span, and per-
    variable observation counts — a single grouped aggregate."""
    data_vars = [
        c
        for c in obs.columns
        if c
        not in ("station", "network", "time", "lat", "lon", "elevation")
        and not c.endswith("_qc")
        and not c.endswith("_eraqc")
    ]
    aggs = [
        F.first(F.split(F.col("station"), "_").getItem(0)).alias("network"),
        F.first("lat", ignorenulls=True).alias("latitude"),
        F.first("lon", ignorenulls=True).alias("longitude"),
        F.first("elevation", ignorenulls=True).alias("elevation"),
        F.min("time").alias("start_date"),
        F.max("time").alias("end_date"),
        F.count(F.lit(1)).alias("total_nobs"),
    ]
    aggs += [F.count(v).alias(f"{v}_nobs") for v in data_vars]
    return (
        obs.groupBy(F.col("station").alias("era_id"))
        .agg(*aggs)
        .withColumn("cleaned", F.lit("Y"))
    )


def write_stage(df: DataFrame, path: str) -> None:
    """S8: stage sink — parquet partitioned by network, rows sorted by
    (station, time) within files (the analog of the reference's one
    zarr per station with a single time chunk,
    MERGE_pipeline.py:380-410): partition pruning on network, row-group
    locality on station/time."""
    (
        df.repartition("network")
        .sortWithinPartitions("station", "time")
        .write.mode("overwrite")
        .partitionBy("network")
        .parquet(path)
    )


def write_station_list_csv(stations: DataFrame, path: str) -> None:
    """S9: small-table CSV report sink."""
    stations.coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)


def write_bucketed_stage(
    df: DataFrame,
    table_name: str,
    path: str | None = None,
    n_buckets: int = 64,
) -> None:
    """Bucketed stage table (the 100 TB layout): every station's rows
    land in one bucket file, sorted by time — station-keyed groupBy /
    window / self-join plans then contain NO Exchange (bucket-local),
    the distributed analog of the reference's one-zarr-per-station
    locality (MERGE_pipeline.py:380-410). Size ``n_buckets`` so a
    bucket is a few file-split units at the target corpus (e.g. 4096
    buckets for 15k stations × 40 yr)."""
    w = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "station")
        .sortBy("station", "time")
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
