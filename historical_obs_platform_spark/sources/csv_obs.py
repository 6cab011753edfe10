"""Generic CSV observation source (S5) — the MADIS/Synoptic-style
cleaner (``scripts/2_clean_data/MADIS_clean.py:113-392``) as one
declarative scan.

The reference sniffs headers, resolves duplicated columns, drops
timeout rows, renames ``*_set_1d`` sensor columns, parses times and
applies the v1 period filter, per file, in pandas. Here:

- one ``spark.read.csv`` over the prefix (explicit schema — no
  inference in production paths);
- duplicate-column resolution = a rename map applied at select time;
- sentinel and timeout rows are predicates;
- the period filter is a pushed-down timestamp range, end-exclusive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.sqltext import q

# MADIS sensor-suffix renames (MADIS_clean.py:1692-1694)
DEFAULT_RENAMES = {
    "dew_point_temperature_set_1d": "tdps_derived",
    "pressure_set_1d": "ps_derived",
    "relative_humidity_set_1": "hurs",
    "air_temp_set_1": "tas",
}

V1_PERIOD = ("1980-01-01", "2022-09-01")


def read_csv_obs(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    station_col: str = "station",
    time_col: str = "time",
    time_format: str | None = None,
    renames: dict[str, str] | None = None,
    sentinels: tuple[str, ...] = ("-9999", "-9999.0", "M", "MM", ""),
    period: tuple[str, str] | None = V1_PERIOD,
    keep_strings: tuple[str, ...] = (),
) -> DataFrame:
    """Scan + standardize a CSV observation prefix.

    Returns the canonical long-format frame (station, time, vars...);
    rows with unparseable station/time are dropped (the reference's
    timeout-row cleanup), sentinel strings become null before the
    numeric cast, and the period filter is a range predicate, start
    inclusive and end exclusive (pushed down; P5,
    MADIS_clean.py:337-345).
    """
    reader = spark.read.option("header", True)
    df = (
        reader.schema(schema).csv(path)
        if schema
        else reader.csv(path)  # inference acceptable for ad-hoc use
    )
    # `renames={}` means "no renames"; only None falls back to the
    # MADIS defaults (an empty dict is falsy — `or` would silently
    # re-enable the default map for non-MADIS networks)
    if renames is None:
        renames = DEFAULT_RENAMES
    nulls = ", ".join("'" + s.replace("'", "\\'") + "'" for s in sentinels)
    # one schema read, one projection of SQL text (a Column-API select
    # costs several JVM round trips per column)
    cols = []
    for raw, dtype in df.dtypes:
        c = renames.get(raw, raw)
        if c == time_col:
            fmt = f", '{time_format}'" if time_format else ""
            e = f"to_timestamp({q(raw)}{fmt})"
        elif c == station_col or c in keep_strings or dtype != "string":
            # keep_strings: QC-flag columns whose letter codes must
            # survive verbatim (the numeric cast would null them)
            e = q(raw)
        else:
            # try_cast: non-numeric junk columns become all-null
            # instead of failing the scan under ANSI mode
            e = (
                f"try_cast(CASE WHEN trim({q(raw)}) IN ({nulls}) THEN NULL"
                f" ELSE {q(raw)} END AS DOUBLE)"
            )
        cols.append(f"{e} AS {q(c)}")
    keep = f"{q(station_col)} IS NOT NULL AND {q(time_col)} IS NOT NULL"
    if period:
        # inclusive start, EXCLUSIVE end, as NetworkSpec.period
        keep += (
            f" AND {q(time_col)} >= CAST('{period[0]}' AS TIMESTAMP)"
            f" AND {q(time_col)} < CAST('{period[1]}' AS TIMESTAMP)"
        )
    return df.selectExpr(*cols).where(keep).dropDuplicates([station_col, time_col])
