"""Per-network cleaner quirk tables (S5 family, declarative).

The reference ships one ~700–1900-line pandas/xarray script per
network (``scripts/2_clean_data/{CIMIS,SCANSNOTEL,CW3E,MARITIME,
VALLEYWATER}_clean.py``); each is the same pipeline with a different
quirk table: raw→CF-style column renames, per-variable unit
conversions, QC-flag column renames, a local-time offset, and the v1
period filter.  Here the quirks ARE the table — a frozen
``NetworkSpec`` per network — and one Catalyst-only ``clean_network``
applies any of them as a single select (no shuffle, no Python UDFs;
the whole cleaner is projection + filter, so it pipelines into
whatever scan precedes it and survives 100 TB trivially).

Quirk provenance (reference file:line):

- CIMIS   — CIMIS_clean.py:419-604 (renames/conversions),
  :234-256 (PST→UTC via +8 h timedelta), :409 (elevation ft→m).
- SCANSNOTEL — SCANSNOTEL_clean.py:383-618 (``{SENSOR}_value`` /
  ``{SENSOR}_flag`` columns; °F→K, inHg→Pa, in→mm, mph→m/s, kPa→Pa).
- CW3E    — CW3E_clean.py:202,283,433-497 (°C→K, hPa→Pa, ft→m,
  period ends 2022-08-30).
- MARITIME — MARITIME_clean.py:637-653 (°C→K, hPa→Pa; buoy ids).
- VALLEYWATER — VALLEYWATER_clean.py:105 (ISO-8601 UTC time,
  precip-only network, in→mm).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import kernels as K
from ..functions.sqltext import q, with_sql

from .csv_obs import V1_PERIOD  # single definition of the v1 window

# Conversion registry: spec entries name the conversion, the column
# expression comes from the shared kernel (same constants as the
# reference's calc_clean.py, see functions/kernels.py docstrings).
CONVERSIONS: Mapping[str, Callable[[str], Column]] = {
    "degC_to_K": K.degc_to_k,
    "degF_to_K": K.degf_to_k,
    "hPa_to_Pa": K.hpa_to_pa,
    "kPa_to_Pa": K.kpa_to_pa,
    "inHg_to_Pa": K.inhg_to_pa,
    "kts_to_ms": K.kts_to_ms,
    "mph_to_ms": K.mph_to_ms,
    "in_to_mm": K.in_to_mm,
    "ft_to_m": K.ft_to_m,
}


@dataclass(frozen=True)
class NetworkSpec:
    """Declarative cleaner for one observation network."""

    name: str
    # raw column name -> canonical (CF-style) variable name
    renames: Mapping[str, str] = field(default_factory=dict)
    # canonical variable name -> CONVERSIONS key
    conversions: Mapping[str, str] = field(default_factory=dict)
    # raw QC column name -> canonical "<var>_qc" name (kept as string)
    qc_renames: Mapping[str, str] = field(default_factory=dict)
    # hours to ADD to the raw (local) timestamps to reach UTC
    utc_offset_hours: int = 0
    # inclusive start, exclusive end (the reference's v1 window)
    period: tuple[str, str] | None = V1_PERIOD
    # "ft" applies ft→m to the elevation column at clean time
    elevation_unit: str = "m"
    # MADIS_clean.py:1131-1160: station pressure (ps) beats sea-level
    # pressure — a station with ANY observed ps drops its psl column
    # (per-station, so this is the one quirk that needs a shuffle)
    psl_only_if_no_ps: bool = False


# The Synoptic/MADIS variable vocabulary (MADIS_clean.py:1078-1702)
# shared by every network pulled through the Synoptic API — the
# reference cleans CWOP, RAWS, HADS, CDEC (and ~15 more,
# MADIS_clean.py:1871-1873) with the SAME script; only the station
# prefix and which sensors exist differ. Declaring one rename table
# and instantiating per-network specs from it is the table-driven
# equivalent.
_SYNOPTIC_RENAMES: dict[str, str] = {
    "air_temp_set_1": "tas",                                   # :1078
    "dew_point_temperature_set_1": "tdps",                     # :1227
    "dew_point_temperature_set_1d": "tdps_derived",            # :1702
    "pressure_set_1": "ps",                                    # :1136
    "pressure_set_1d": "ps_derived",                           # :1692
    "sea_level_pressure_set_1": "psl",                         # :1153
    "relative_humidity_set_1": "hurs",                         # :1524
    "solar_radiation_set_1": "rsds",                           # :1551
    "wind_speed_set_1": "sfcWind",                             # :1589
    "wind_direction_set_1": "sfcWind_dir",                     # :1609
    "precip_accum_24_hour_set_1": "pr_24h",                    # :1295
    "precip_accum_since_local_midnight_set_1": "pr_localmid",  # :1306
    "precip_accum_set_1": "pr",                                # :1318
    "precip_accum_one_hour_set_1": "pr_1h",                    # :1328
    "precip_accum_five_minute_set_1": "pr_5min",               # :1340
}
_SYNOPTIC_QC: dict[str, str] = {
    f"{raw}_qc": f"{canon}_qc" for raw, canon in _SYNOPTIC_RENAMES.items()
}
# temps arrive in °C (→K); pressures already Pa; winds already m/s;
# precip already mm (MADIS_clean.py units attrs)
_SYNOPTIC_CONVERSIONS: dict[str, str] = {
    "tas": "degC_to_K",
    "tdps": "degC_to_K",
    "tdps_derived": "degC_to_K",
}


def _synoptic_spec(name: str) -> NetworkSpec:
    """One MADIS-family network: full Synoptic vocabulary, UTC raw
    clocks, elevations in feet, ps-over-psl preference."""
    return NetworkSpec(
        name=name,
        renames=_SYNOPTIC_RENAMES,
        conversions=_SYNOPTIC_CONVERSIONS,
        qc_renames=_SYNOPTIC_QC,
        elevation_unit="ft",
        psl_only_if_no_ps=True,
    )


NETWORKS: dict[str, NetworkSpec] = {
    # CIMIS_clean.py: hourly ag stations, local PST (fixed +8 h to
    # UTC, :254-256), elevations in feet, QC flag column per variable.
    "CIMIS": NetworkSpec(
        name="CIMIS",
        renames={
            # unicode originals (CIMIS_clean.py headers) + ASCII
            # fallbacks for re-encoded exports
            "Air Temperature (\N{DEGREE SIGN}C)": "tas",
            "Air Temperature (C)": "tas",
            "Dew Point (\N{DEGREE SIGN}C)": "tdps_derived",
            "Dew Point (C)": "tdps_derived",
            "Precipitation (mm)": "pr",
            "Relative Humidity (%)": "hurs",
            "Solar Radiation (W/m\N{SUPERSCRIPT TWO})": "rsds",
            "Solar Radiation (W/m2)": "rsds",
            "Wind Speed (m/s)": "sfcWind",
            "Wind Direction (0-360)": "sfcWind_dir",
        },
        conversions={"tas": "degC_to_K", "tdps_derived": "degC_to_K"},
        qc_renames={
            "QC for Air Temperature": "tas_qc",
            "QC for Dew Point": "tdps_derived_qc",
            "QC for Precipitation": "pr_qc",
            "QC for Relative Humidity": "hurs_qc",
            "QC for Solar Radiation": "rsds_qc",
            "QC for Wind Speed": "sfcWind_qc",
            "QC for Wind Direction": "sfcWind_dir_qc",
        },
        utc_offset_hours=8,
        elevation_unit="ft",
    ),
    # SCANSNOTEL_clean.py: USDA sensor codes, imperial units, one
    # "<CODE>_value"/"<CODE>_flag" pair per sensor.
    "SCANSNOTEL": NetworkSpec(
        name="SCANSNOTEL",
        renames={
            "TOBS_value": "tas",
            "PRES_value": "psl",
            "DPTP_value": "tdps",
            "PREC_value": "pr",          # accumulation (in)
            "PRCP_value": "pr_inc",      # increment (in)
            "PRCPSA_value": "pr_incsa",  # snow-adjusted increment
            "RHUM_value": "hurs",
            "SRAD_value": "rsds",
            "WSPD_value": "sfcWind",
            "WDIR_value": "sfcWind_dir",
            "PVPV_value": "pvp",
        },
        conversions={
            "tas": "degF_to_K",
            "psl": "inHg_to_Pa",
            "tdps": "degF_to_K",
            "pr": "in_to_mm",
            "pr_inc": "in_to_mm",
            "pr_incsa": "in_to_mm",
            "sfcWind": "mph_to_ms",
            "pvp": "kPa_to_Pa",
        },
        qc_renames={
            "TOBS_flag": "tas_qc",
            "PRES_flag": "psl_qc",
            "DPTP_flag": "tdps_qc",
            "PREC_flag": "pr_qc",
            "PRCP_flag": "pr_inc_qc",
            "PRCPSA_flag": "pr_incsa_qc",
            "RHUM_flag": "hurs_qc",
            "SRAD_flag": "rsds_qc",
            "WSPD_flag": "sfcWind_qc",
            "WDIR_flag": "sfcWind_dir_qc",
        },
        elevation_unit="ft",
    ),
    # CW3E_clean.py: metric CSVs, psl in hPa, period ends 2022-08-30.
    "CW3E": NetworkSpec(
        name="CW3E",
        renames={
            "Air Temperature (C)": "tas",
            "Pressure (hPa)": "psl",
            "Precipitation (mm)": "pr",
            "Relative Humidity (%)": "hurs",
            "Solar Radiation (W/m^2)": "rsds",
            "Scalar Wind Speed (m/s)": "sfcWind",
            "Wind Direction (deg)": "sfcWind_dir",
        },
        conversions={"tas": "degC_to_K", "psl": "hPa_to_Pa"},
        period=("1980-01-01", "2022-08-31"),
        elevation_unit="ft",
    ),
    # MARITIME_clean.py: NDBC buoys, already-canonical names but
    # metric-raw units (°C / hPa); anemometer height in metadata.
    "MARITIME": NetworkSpec(
        name="MARITIME",
        conversions={
            "tas": "degC_to_K",
            "tdps": "degC_to_K",
            "ps": "hPa_to_Pa",
        },
    ),
    # VALLEYWATER_clean.py: precip-only gauges, UTC ISO-8601 time,
    # inches.
    "VALLEYWATER": NetworkSpec(
        name="VALLEYWATER",
        renames={"rainfall_in": "pr"},
        conversions={"pr": "in_to_mm"},
    ),
    # MADIS_clean.py: the generic Synoptic-API cleaner (renames
    # :1078-1702, °C→K, elevation ft→m :782, ps-over-psl
    # :1131-1160); the rest of the MADIS quirk set (header sniffing,
    # sentinel cleanup) lives in sources/csv_obs.read_csv_obs, which
    # this spec composes with.
    "MADIS": _synoptic_spec("MADIS"),
    # The reference cleans these networks with the SAME MADIS script
    # (MADIS_clean.py:1871-1875 lists them; CWOP additionally batches
    # its 7k stations by first letter at INGEST time — an
    # orchestration detail that Spark's partitioning replaces, so the
    # quirk table is identical):
    "CWOP": _synoptic_spec("CWOP"),
    "RAWS": _synoptic_spec("RAWS"),
    "HADS": _synoptic_spec("HADS"),
    "CDEC": _synoptic_spec("CDEC"),
    # the rest of the reference's MADIS roster
    # (MADIS_clean.py:1871-1873) — same Synoptic vocabulary,
    # addressable per network for per-network runs/audits
    "CAHYDRO": _synoptic_spec("CAHYDRO"),
    "CNRFC": _synoptic_spec("CNRFC"),
    "CRN": _synoptic_spec("CRN"),
    "HNXWFO": _synoptic_spec("HNXWFO"),
    "HOLFUY": _synoptic_spec("HOLFUY"),
    "HPWREN": _synoptic_spec("HPWREN"),
    "LOXWFO": _synoptic_spec("LOXWFO"),
    "MAP": _synoptic_spec("MAP"),
    "MTRWFO": _synoptic_spec("MTRWFO"),
    "NCAWOS": _synoptic_spec("NCAWOS"),
    "NOS-NWLON": _synoptic_spec("NOS-NWLON"),
    "NOS-PORTS": _synoptic_spec("NOS-PORTS"),
    "SGXWFO": _synoptic_spec("SGXWFO"),
    "SHASAVAL": _synoptic_spec("SHASAVAL"),
    "VCAPCD": _synoptic_spec("VCAPCD"),
    # NDBC buoys are the MARITIME network (MARITIME_clean.py pulls
    # NDBC + CDIP); registered under both names so a user can address
    # the cleaner by either.
    "NDBC": NetworkSpec(
        name="NDBC",
        conversions={
            "tas": "degC_to_K",
            "tdps": "degC_to_K",
            "ps": "hPa_to_Pa",
        },
    ),
}


def clean_network(
    df: DataFrame,
    spec: NetworkSpec | str,
    time_col: str = "time",
) -> DataFrame:
    """Apply one network's quirk table as a single projection.

    Renames raw columns that are present (absent ones are simply
    skipped — the reference's per-variable ``if ... in ds.keys()``
    guards), converts units through the shared kernels, renames QC
    columns (values kept verbatim as strings), shifts local time to
    UTC, converts a feet-based elevation column, and applies the
    network's period filter as a pushdown-able range predicate.
    """
    if isinstance(spec, str):
        spec = NETWORKS[spec]
    # one schema read and one projection: the renames, QC casts and
    # clock shift as SQL text (one JVM round trip per column, where a
    # Column costs a few per node), then the unit conversions through
    # the shared kernels, which Catalyst folds into the same Project
    renamed = {**spec.renames, **spec.qc_renames}
    cols = []
    for raw in df.columns:
        canon = renamed.get(raw, raw)
        e = q(raw)
        if raw in spec.qc_renames:
            e = f"CAST({e} AS STRING)"
        elif canon == time_col and spec.utc_offset_hours:
            e = f"{e} + make_interval(0, 0, 0, 0, {spec.utc_offset_hours}, 0, 0BD)"
        cols.append(f"{e} AS {q(canon)}")
    df = df.selectExpr(*cols)
    conv = {
        canon: CONVERSIONS[name](canon)
        for canon, name in spec.conversions.items()
        if canon in df.columns
    }
    if spec.elevation_unit == "ft" and "elevation" in df.columns:
        conv["elevation"] = K.ft_to_m(conv.get("elevation", "elevation"))
    if conv:
        df = df.withColumns(conv)
    if spec.period:
        # inclusive start, EXCLUSIVE end — as documented on the spec
        # field (between() would keep the end-boundary instant)
        df = df.where(
            f"{q(time_col)} >= CAST('{spec.period[0]}' AS TIMESTAMP)"
            f" AND {q(time_col)} < CAST('{spec.period[1]}' AS TIMESTAMP)"
        )
    if (
        spec.psl_only_if_no_ps
        and "ps" in df.columns
        and "psl" in df.columns
        and "station" in df.columns
    ):
        # MADIS_clean.py:1131-1160: a station with ANY directly
        # observed station pressure drops sea-level pressure (ps is
        # authoritative; psl at those stations is Synoptic-derived).
        # Per-station window count — the single shuffle in the
        # cleaner, keyed the same way every downstream QAQC stage
        # partitions, so at scale it coalesces with the next stage's
        # exchange rather than adding one.
        df = with_sql(
            df,
            {
                "psl": "CASE WHEN count(ps) OVER (PARTITION BY station) > 0"
                " THEN CAST(NULL AS DOUBLE) ELSE psl END"
            },
        )
    return df


def merge_station_lists(
    isd_list: DataFrame,
    asosawos_list: DataFrame,
    coord_decimals: int = 3,
) -> DataFrame:
    """The ASOS/AWOS ↔ ISD station-list merge
    (ASOSAWOS_clean.py:71-139), as a two-tier priority join:

    1. drop the less-complete row of any duplicated ASOSAWOS station
       (the reference hard-codes one NCDCID with a null STARTDATE;
       generically: within a (WBAN, NCDCID) duplicate group, null
       STARTDATE rows lose);
    2. round ASOSAWOS coordinates to ``coord_decimals`` (the two
       lists disagree below ~100 m);
    3. join ISD←ASOSAWOS on (WBAN, LAT, LON) first — exact sensor
       match — and fall back to WBAN-only for ISD rows the precise
       join missed (relocated stations keep their metadata).

    Spark shape: both joins are on the dimension-sized station lists
    (thousands of rows), so each side broadcasts; the fallback join
    input is the anti-joined remainder, not a second full scan.
    """
    from pyspark.sql.window import Window

    dup_w = F.row_number().over(
        Window.partitionBy("WBAN", "NCDCID").orderBy(
            F.col("STARTDATE").desc_nulls_last()
        )
    )
    asos = (
        asosawos_list.withColumn("__rn", dup_w)
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("LAT", F.round("LAT", coord_decimals))
        .withColumn("LON", F.round("LON", coord_decimals))
    )
    # the exact tier must be 1:<=1 or an ISD row would DUPLICATE when
    # two ASOS rows (different NCDCIDs) share rounded coordinates —
    # keep one row per (WBAN, LAT, LON), newest STARTDATE first,
    # smallest NCDCID breaking exact ties (deviation from the
    # reference, which would silently fan out the join)
    coord_w = F.row_number().over(
        Window.partitionBy("WBAN", "LAT", "LON").orderBy(
            F.col("STARTDATE").desc_nulls_last(), F.col("NCDCID")
        )
    )
    asos = (
        asos.withColumn("__rn", coord_w)
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    # a sentinel marks real matches (any metadata column could be
    # legitimately null, so probing one of them would misclassify)
    exact = isd_list.join(
        F.broadcast(asos.withColumn("__hit", F.lit(1))),
        ["WBAN", "LAT", "LON"],
        "left",
    )
    matched = exact.where(F.col("__hit").isNotNull()).drop("__hit")
    missed = exact.where(F.col("__hit").isNull()).select(isd_list.columns)
    # WBAN-only fallback: the ASOSAWOS side keyed on WBAN alone must
    # be unique — keep the first by STARTDATE so the fallback is
    # deterministic
    wban_w = F.row_number().over(
        Window.partitionBy("WBAN").orderBy(
            F.col("STARTDATE").desc_nulls_last()
        )
    )
    asos_by_wban = (
        asos.withColumn("__rn", wban_w)
        .where(F.col("__rn") == 1)
        .drop("__rn", "LAT", "LON")
    )
    fallback = missed.join(F.broadcast(asos_by_wban), ["WBAN"], "left")
    return matched.unionByName(fallback, allowMissingColumns=True)


# Networks whose ERA-ID is the raw Synoptic STID
# (stnlist_update_clean.py:228-248)
_MADIS_ID_ROSTER = frozenset(
    [
        "CAHYDRO", "CDEC", "CNRFC", "CRN", "CWOP", "HADS", "HNXWFO",
        "HOLFUY", "HPWREN", "LOXWFO", "MAP", "MTRWFO", "NCAWOS",
        "NOS-NWLON", "NOS-PORTS", "RAWS", "SGXWFO", "SHASAVAL",
        "VCAPCD",
    ]
)


def era_id(network: str) -> Column:
    """Standardized ERA-ID column for a network's raw station list
    (stnlist_update_clean.py:214-257): ``<NETWORK>_<native id>``
    uppercased, where the native id column/shape differs per network
    family (ISD ids lose dashes, CIMIS numbers cast through int, CW3E
    drops the 'C3' prefix, SCAN/SNOTEL take the first triplet
    field)."""
    n = "OtherISD" if "otherisd" in network.lower() else network.upper()
    if "ASOS" in n or n == "OtherISD":
        base = F.regexp_replace(F.col("`ISD-ID`"), "-", "")
    elif "CIMIS" in n:
        base = F.col("`Station Number`").cast("int").cast("string")
    elif "CW3E" in n:
        # anchored: only the 'C3' PREFIX drops, not every occurrence
        base = F.regexp_replace(F.col("STID"), "^C3", "")
    elif n in _MADIS_ID_ROSTER:
        base = F.col("STID")
    elif n in ("MARITIME", "NDBC"):
        base = F.col("STATION_ID")
    elif n in ("SCAN", "SNOTEL", "SCANSNOTEL"):
        base = F.split(F.col("stationTriplet"), ":").getItem(0)
    else:
        raise ValueError(f"no ERA-ID rule for network {network!r}")
    return F.upper(F.concat(F.lit(n + "_"), base))


def station_clean_audit(
    stations: DataFrame,
    cleaned: DataFrame,
    errors: DataFrame,
    network: str,
) -> DataFrame:
    """The reference's post-clean station-list bookkeeping
    (stnlist_update_clean.py ``clean_qa``), as set operations:

    1. standardize ERA-IDs on the raw station list;
    2. full-outer join against the cleaned-station ids — matched
       stations get ``Cleaned='Y'`` + their clean time, unmatched get
       'N', and cleaned ids absent from the list are appended (the
       reference's manual concat, :266-279);
    3. attach error-log rows to stations by id-in-filename match,
       keeping only errors at/after the station's clean time (or
       untimed ones); one error reports bare, several concatenate as
       'File: Error' (:260-321).

    ``errors`` is an operations log (KB-sized), so the containment
    join broadcasts it — a nested-loop join over a broadcast of
    dozens of rows, never corpus-shaped. Documented deviations from
    the reference loop: an error matching several station suffixes
    resolves to the LONGEST suffix (most specific), ties to the
    greatest ERA-ID — the reference takes whichever station happens
    to iterate last; multi-error concatenation orders by
    (Time, File) instead of error-file row order. Times are
    fixed-format sortable strings.

    Columns in: stations (native id columns per network), cleaned
    ``(ID, Time_Cleaned)``, errors ``(File, Time, Error)``.
    Out: ``(era_id, Cleaned, Time_Cleaned, Errors)`` + station
    metadata columns.
    """
    from pyspark.sql.window import Window

    st = stations.withColumn("era_id", era_id(network)).where(
        F.col("era_id").isNotNull()
    )
    joined = st.join(
        cleaned.select(
            F.col("ID").alias("__cid"), F.col("Time_Cleaned")
        ),
        st["era_id"] == F.col("__cid"),
        "full_outer",
    )
    audited = joined.select(
        F.coalesce(F.col("era_id"), F.col("__cid")).alias("era_id"),
        *[c for c in st.columns if c != "era_id"],
        F.when(F.col("__cid").isNull(), F.lit("N"))
        .otherwise(F.lit("Y"))
        .alias("Cleaned"),
        "Time_Cleaned",
        # feeds the suffix/error branch AND the final report join —
        # one materialization instead of two full-outer-join runs
    ).localCheckpoint(eager=False)
    # native id = everything after the FIRST underscore (the
    # '<NETWORK>_' prefix) — split-last would truncate native ids
    # that themselves contain underscores
    suffix = F.regexp_replace(F.col("era_id"), "^[^_]*_", "")
    stx = audited.select(
        "era_id", suffix.alias("__sfx"), "Time_Cleaned"
    )
    # containment as an EQUI-join (r8): ``sfx`` occurs in ``File``
    # iff ``sfx`` equals one of File's distinct substrings, so
    # enumerating them (lengths 0..len — length 0 keeps instr's
    # empty-pattern-matches-everything semantics) turns the
    # broadcast nested loop (|stations| x |errors| instr calls —
    # ~150 M at sf0.1) into a hash join keyed on the substring.
    # Filenames are bounded-length, so the per-error expansion is
    # a few hundred short strings; ``array_distinct`` keeps the
    # one-row-per-(station, error) multiplicity of the theta join.
    err_subs = errors.select(
        "File",
        "Time",
        "Error",
        F.explode(
            F.array_distinct(
                F.expr(
                    "flatten(transform(sequence(0, length(File)), "
                    "l -> transform(sequence(1, length(File) - l + 1), "
                    "i -> substring(File, i, l))))"
                )
            )
        ).alias("__sfx"),
    )
    matched = err_subs.join(F.broadcast(stx), "__sfx")
    w = Window.partitionBy("File", "Time", "Error").orderBy(
        F.length("__sfx").desc(), F.col("era_id").desc()
    )
    assigned = (
        matched.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(
            F.col("Time_Cleaned").isNull()
            | F.col("Time").isNull()
            | (F.col("Time") >= F.col("Time_Cleaned"))
        )
    )
    per_station = assigned.groupBy("era_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("Error").alias("__single"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("Time", "File", "Error"))
                ),
                lambda s: F.concat(s["File"], F.lit(": "), s["Error"]),
            ),
        ).alias("__multi"),
    )
    return audited.join(
        F.broadcast(per_station), "era_id", "left"
    ).select(
        *audited.columns,
        F.when(F.col("__n") == 1, F.col("__single"))
        .otherwise(F.col("__multi"))
        .alias("Errors"),
    )


# (substring candidates, canonical name) — specific rules first so
# 'time_cleaned' matches its own rule before the bare 'cleaned' rule
_HARMONIZE_RULES: list[tuple[tuple[str, ...], str]] = [
    (("era-id", "era_id"), "era_id"),
    (("time_checked",), "time_checked"),
    (("time_cleaned",), "time_cleaned"),
    (("time_qaqc",), "time_qaqc"),
    (("time_merge",), "time_merged"),
    (("name",), "name"),
    (("lat",), "latitude"),
    (("lon",), "longitude"),
    (("elev",), "elevation"),
    (("begin", "start", "connect"), "start_time"),
    (("end", "disconnect"), "end_time"),
    (("pulled",), "pulled"),
    (("cleaned",), "cleaned"),
    (("qaqc",), "qaqc"),
    (("merged", "merge"), "merged"),
]


def harmonize_station_lists(
    frames: Mapping[str, DataFrame]
) -> DataFrame:
    """The reference's master-station-list assembly
    (``stationlist_generator.py:144-394``): per-network lists arrive
    with DIFFERENT column spellings (LAT / latitude / lat_dd,
    BEGIN / start_time, ...); normalize each by fuzzy column-name
    rules, tag the network, union with missing columns as nulls, and
    keep one row per era_id.

    Deviations from the reference loop, both for determinism: an
    exact (case-folded) name beats a substring match; the era_id
    dedup keeps the row with the MOST populated fields (ties to
    network name order) instead of input-file order, which Spark
    does not have.
    """
    outs = []
    for network in sorted(frames):
        df = frames[network]
        lower = {c: c.lower() for c in df.columns}
        for old, new in lower.items():
            if old != new:
                df = df.withColumnRenamed(old, new)
        for c in list(df.columns):
            if "unnamed" in c:
                df = df.drop(c)
        taken: set[str] = set()
        for subs, canon in _HARMONIZE_RULES:
            if canon in df.columns:
                taken.add(canon)
                continue
            cands = [
                c
                for c in df.columns
                if c not in taken and any(s in c for s in subs)
            ]
            exact = [c for c in cands if c in subs]
            pick = (exact or cands)[:1]
            if pick:
                df = df.withColumnRenamed(pick[0], canon)
                taken.add(canon)
        outs.append(df.withColumn("network", F.lit(network)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    payload = [c for c in out.columns if c != "era_id"]
    completeness = sum(
        F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in payload
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("era_id").orderBy(
        F.desc("__complete"), F.asc("network")
    )
    return (
        out.withColumn("__complete", completeness)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__complete")
    )


def public_station_directory(
    merged: DataFrame,
    asosawos_isd: DataFrame,
    states: DataFrame,
    bad_elevations: tuple[float, ...] = (-30479.6952,),
    geom_decimals: int = 6,
) -> DataFrame:
    """The reference's public-facing station list
    (``public_facing_stationlist_cleanup.py``): keep merged stations,
    repair bad/missing ASOSAWOS elevations from the raw ISD list,
    derive source-id (ICAO for ASOSAWOS, the era_id suffix
    otherwise), assign the containing state by point-in-polygon
    (the geopandas ``sjoin`` as ``geo.tag_polygons`` — polygon table
    broadcast, containment over distinct coordinates only), and emit
    a WKT point geometry.

    ``states`` is a (state, wkt) table. Geometry coordinates render
    through DECIMAL(…, ``geom_decimals``) so the text is
    engine-portable (raw double→string rendering is not).
    """
    from ..operators.geo import tag_polygons

    src = asosawos_isd.select(
        F.upper(
            F.concat(
                F.lit("ASOSAWOS_"),
                F.regexp_replace(F.col("`ISD-ID`"), "-", ""),
            )
        ).alias("__src_era"),
        F.col("`ELEV(M)`").cast("double").alias("__src_elev"),
        F.col("ICAO").cast("string").alias("__icao"),
    )
    m = merged.where(F.col("merged") == "Y")
    j = m.join(
        F.broadcast(src), m["era_id"] == F.col("__src_era"), "left"
    ).drop("__src_era")
    elev = F.when(
        (F.col("network") == "ASOSAWOS")
        & (
            F.col("elevation").isin(*[F.lit(b) for b in bad_elevations])
            | F.col("elevation").isNull()
        )
        & F.col("__src_elev").isNotNull(),
        F.col("__src_elev"),
    ).otherwise(F.col("elevation"))
    source_id = F.when(
        F.col("network") == "ASOSAWOS", F.col("__icao")
    ).otherwise(
        F.expr("substring(era_id, length(network) + 2)")
    )
    dec_t = f"decimal(12,{geom_decimals})"
    geom = F.concat(
        F.lit("POINT ("),
        F.col("longitude").cast(dec_t).cast("string"),
        F.lit(" "),
        F.col("latitude").cast(dec_t).cast("string"),
        F.lit(")"),
    )
    staged = j.select(
        "era_id",
        source_id.alias("source_id"),
        "network",
        "latitude",
        "longitude",
        elev.alias("elevation"),
        "start_date",
        "end_date",
        "total_nobs",
        geom.alias("geometry"),
    )
    return tag_polygons(
        staged,
        states,
        wkt_col="wkt",
        tag_col="state",
        lat_col="latitude",
        lon_col="longitude",
        out="state",
    ).select(
        "era_id", "source_id", "network", "latitude", "longitude",
        "state", "elevation", "start_date", "end_date", "total_nobs",
        "geometry",
    )
