"""The benchmark's workloads and their output checks.

Both workloads are closed loops with one client on ``local[nproc]``.
An *operation* is one engine call a user makes: a pipeline stage (the
work of one CLI subcommand) or one registered query.

- ``pipeline_wide``: the ``corpus.SPEC`` stations across four networks
  with short 5-minute records, clean -> QA/QC (no distribution tests)
  -> hourly merge -> flag counts. The measured pass is the session's
  first and only one, as for a batch job or a CLI stage command, each
  of which starts its own session; a warm-up pass would not fit the
  benchmark's time budget.
- ``query_mix``: a seeded draw, with repeats, from ``QUERY_MIX`` over
  the seeded relational tables.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import corpus
import relational

# Fixed query list: report, time-series window, relational and dedup
# families. Queries are drawn in rounds, each a seeded shuffle of the
# whole list, so every run carries the same mix. Kept to queries whose
# warm call takes well under a second and that build no shared QA/QC
# chain memo (a cold chain_* call takes 13-18 s), so that a run fits its
# time budget; ``pipeline_wide`` measures the QA/QC chain.
QUERY_MIX = (
    "report_station_coverage",
    "report_calibration_bins",
    "w1_lag_diff_timedelta",
    "w7_deaccumulate",
    "w14_forward_fill",
    "w_rolling_24h",
    "q6_forecast_revenue",
    "q18_large_orders",
    "d_exact_dedup",
)

# untimed rounds after the cold round: per-query latency keeps falling
# over the first rounds while the JVM compiles the hot paths; one round
# keeps a run within the benchmark's time budget on a slow host
WARM_ROUNDS = 1

STAGE_SPANS = (
    "sources.clean",
    "plans.clean.write_stage.clean",
    "plans.qaqc_chain.run_qaqc",
    "plans.clean.write_stage.qaqc",
    "plans.merge.run_merge",
    "plans.clean.write_stage.merge",
    "plans.merge.flag_counts",
)
QUERY_SPANS = ("queries.build", "queries.exec")
LAYER_SPANS = ("session.get_spark",) + STAGE_SPANS + QUERY_SPANS
# per-network calls inside ``sources.clean``; reported by wall time and
# job count only
SOURCE_SPANS = ("sources.csv_obs.read_csv_obs", "sources.networks.clean_network")
ROWS_OUT_SPANS = ("plans.clean.write_stage.clean", "plans.clean.write_stage.qaqc",
                  "plans.clean.write_stage.merge", "plans.merge.flag_counts")
FAMILIES = ("report", "w", "q", "d")


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


@dataclass
class Outcome:
    """What one measured window produced."""

    latencies: list = field(default_factory=list)  # seconds per operation
    op_names: list = field(default_factory=list)
    units: list = field(default_factory=list)  # (wall, input rows) per unit
    attempted: int = 0
    failed: int = 0
    elapsed: float = 0.0


def _fail(out: Outcome, what: str) -> None:
    out.failed += 1
    print(f"# FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


# ---------------------------------------------------------------- pipeline


def _with_network(df):
    """The network partition column, as the CLI stage commands add it."""
    from pyspark.sql import functions as F

    if "network" in df.columns:
        return df
    return df.withColumn("network", F.split(F.col("station"), "_").getItem(0))


class Pipeline:
    """clean -> qaqc -> merge -> flag counts over one raw corpus."""

    def __init__(self, spark, tracer, raw_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.raw_dir = raw_dir
        self.work_dir = work_dir
        self.networks = sorted({net for net, _ in corpus.station_ids(corpus.SPEC)})

    def run_pass(self, tag: str, out: Outcome):
        """One pass; returns the flag-rate rows, or None if a stage
        failed. Appends one latency per stage to ``out``."""
        from historical_obs_platform_spark.plans.clean import write_stage
        from historical_obs_platform_spark.plans.merge import (
            flag_counts, network_flag_rates, run_merge)
        from historical_obs_platform_spark.plans.qaqc_chain import run_qaqc
        from historical_obs_platform_spark.sources.csv_obs import read_csv_obs
        from historical_obs_platform_spark.sources.networks import (
            NETWORKS, clean_network)

        tr = self.tracer
        spark = self.spark
        base = f"{self.work_dir}/{tag}"
        result = {}

        def clean_stage():
            with tr.span("sources.clean"):
                parts = []
                for net in self.networks:
                    spec = NETWORKS[net]
                    with tr.span("sources.csv_obs.read_csv_obs"):
                        raw = read_csv_obs(spark, f"{self.raw_dir}/{net}", renames={},
                                           period=None,
                                           keep_strings=tuple(spec.qc_renames))
                    with tr.span("sources.networks.clean_network"):
                        parts.append(clean_network(raw, spec))
                cleaned = reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
            with tr.span("plans.clean.write_stage.clean"):
                write_stage(_with_network(cleaned), f"{base}/clean")

        def qaqc_stage():
            obs = spark.read.parquet(f"{base}/clean")
            with tr.span("plans.qaqc_chain.run_qaqc"):
                # records are far shorter than the distribution tests'
                # five-year gate, as with the CLI's --no-distribution
                flagged = run_qaqc(obs, with_distribution=False)
            with tr.span("plans.clean.write_stage.qaqc"):
                write_stage(_with_network(flagged), f"{base}/qaqc")

        def merge_stage():
            obs = spark.read.parquet(f"{base}/qaqc")
            with tr.span("plans.merge.run_merge"):
                merged = run_merge(obs)
            with tr.span("plans.clean.write_stage.merge"):
                write_stage(_with_network(merged), f"{base}/merge")

        def flag_stage():
            obs = spark.read.parquet(f"{base}/qaqc")
            with tr.span("plans.merge.flag_counts") as sp:
                rows = network_flag_rates(flag_counts(obs)).collect()
                if sp is not None:
                    sp.rows_out = len(rows)
            result["rates"] = rows

        t_pass = time.perf_counter()
        with tr.span("pipeline.pass"):
            for name, stage in (("clean", clean_stage), ("qaqc", qaqc_stage),
                                ("merge", merge_stage), ("flag_counts", flag_stage)):
                out.attempted += 1
                t0 = time.perf_counter()
                try:
                    stage()
                except Exception:
                    _fail(out, f"stage {name}")
                    return None
                out.latencies.append(time.perf_counter() - t0)
                out.op_names.append(name)
        out.units.append((time.perf_counter() - t_pass, corpus.SPEC.rows))
        if tr.enabled:
            self.tracer.collect_counters()
            for sp in self.tracer.spans:
                if sp.name.startswith("plans.clean.write_stage.") and sp.rows_out is None:
                    sp.rows_out = parquet_rows(f"{base}/{sp.name.rsplit('.', 1)[1]}")
        return result["rates"]


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def rates_digest(rows) -> str:
    """Order-insensitive digest of the network flag-rate table."""
    lines = sorted(f"{r['network']}|{r['variable']}|{r['flag']}|{r['n']}" for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _read_stage(path: str, columns) -> pd.DataFrame:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=list(columns)).to_pandas()


def defect_mismatches(flags: pd.DataFrame, defects) -> list:
    """Planted defects whose ``<var>_eraqc`` in ``flags`` (columns
    station, time as ISO seconds, and the flag columns) is not the
    expected code."""
    want = pd.DataFrame(defects, columns=["station", "time", "var", "flag"])
    bad = []
    for var, grp in want.groupby("var"):
        col = f"{var}_eraqc"
        got = flags[["station", "time", col]] if col in flags else \
            flags[["station", "time"]].assign(**{col: np.nan})
        j = grp.merge(got, on=["station", "time"], how="left")
        miss = j[j[col] != j["flag"]]
        bad += miss[["station", "time", "var", "flag"]].to_records(index=False).tolist()
    return bad


def recount_rates(work_dir: str, tag: str) -> list[dict]:
    """The network flag-rate table recomputed with pandas from the
    QA/QC output, as an independent twin of ``flag_counts`` +
    ``network_flag_rates``."""
    path = f"{work_dir}/{tag}/qaqc"
    cols = [c for c in ds.dataset(path, format="parquet", partitioning="hive").schema.names
            if c.endswith("_eraqc")]
    flags = _read_stage(path, ["network"] + cols)
    long = flags.melt(id_vars="network", var_name="variable", value_name="flag").dropna()
    long["variable"] = long["variable"].str[: -len("_eraqc")]
    long["flag"] = long["flag"].astype(float).astype(int)
    per_net = long.groupby(["network", "variable", "flag"]).size().reset_index(name="n")
    total = long.groupby(["variable", "flag"]).size().reset_index(name="n")
    total["network"] = "ALL"
    return pd.concat([per_net, total]).to_dict("records")


def _iso_seconds(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col).dt.tz_localize(None).dt.strftime("%Y-%m-%dT%H:%M:%S")


def check_pipeline(work_dir: str, tag: str, defects) -> list:
    """Problems in one pass's outputs (empty when correct): every
    planted defect flagged with its code, one merged row per
    station-hour of the grid."""
    problems = []
    vars_ = sorted({d[2] for d in defects})
    flags = _read_stage(f"{work_dir}/{tag}/qaqc",
                        ["station", "time"] + [f"{v}_eraqc" for v in vars_])
    flags["time"] = _iso_seconds(flags["time"])
    bad = defect_mismatches(flags, defects)
    if bad:
        problems.append(f"{len(bad)} planted defects unflagged, e.g. {bad[:3]}")
    merged = _read_stage(f"{work_dir}/{tag}/merge", ["station", "time"])
    expected = corpus.SPEC.n_stations * corpus.SPEC.hours_per_station
    if len(merged) != expected or merged.duplicated().any():
        problems.append(f"merge has {len(merged)} rows "
                        f"({merged.duplicated().sum()} duplicate station-hours), "
                        f"grid has {expected}")
    return problems


# --------------------------------------------------------------- query mix


def oracle_canon_digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    naive timestamps, list cells as tuples."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            if getattr(pdf[c].dt, "tz", None) is not None:
                pdf[c] = pdf[c].dt.tz_localize(None)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v,
                na_action="ignore")
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True, kind="mergesort")
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


class QueryMix:
    """Registered queries over one seeded table directory."""

    def __init__(self, spark, tracer, sf_dir: str, seed: int):
        from historical_obs_platform_spark import registry

        registry.load_all()
        self.registry = registry
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.order: list[str] = []
        counts = {t: ds.dataset(f"{sf_dir}/{t}.parquet").count_rows()
                  for t in relational.TABLES}
        # input rows of a query: the rows of every table its SQL twin reads
        self.input_rows = {
            q: sum(n for t, n in counts.items()
                   if re.search(rf"\b{t}\b", registry.ORACLES[q]))
            for q in QUERY_MIX
        }

    def warm_and_check(self, out: Outcome, want: dict) -> None:
        """Run every query once, cold, and compare its row count and
        order-insensitive hash with ``want`` (from ``oracle_results``)."""
        cold_ms = {}
        for q in QUERY_MIX:
            out.attempted += 1
            try:
                t0 = time.perf_counter()
                got = self.registry.QUERIES[q](self.spark, self.sf_dir).toPandas()
                cold_ms[q] = round((time.perf_counter() - t0) * 1000.0, 1)
                if [len(got), oracle_canon_digest(got)] != want[q]:
                    raise AssertionError(f"{q}: {len(got)} rows vs oracle {want[q][0]}, "
                                         "or values differ")
            except Exception:
                _fail(out, f"query {q} check")
        print(json.dumps({"cold_query_ms": cold_ms}), flush=True)

    def run_one(self, out: Outcome) -> None:
        if not self.order:
            self.order = self.rng.sample(QUERY_MIX, len(QUERY_MIX))
        q = self.order.pop()
        tr = self.tracer
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("queries.build"):
                df = self.registry.QUERIES[q](self.spark, self.sf_dir)
            with tr.span("queries.exec"):
                df.write.mode("overwrite").format("noop").save()
        except Exception:
            _fail(out, f"query {q}")
            return
        wall = time.perf_counter() - t0
        out.latencies.append(wall)
        out.op_names.append(q)
        out.units.append((wall, self.input_rows[q]))
        if tr.enabled:
            self.tracer.collect_counters()


def oracle_results(sf_dir: str) -> dict:
    """``[row count, order-insensitive hash]`` of every query's DuckDB
    twin over the tables in ``sf_dir``."""
    import duckdb

    from historical_obs_platform_spark import registry

    registry.load_all()
    con = duckdb.connect()
    try:
        for t in relational.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        results = {}
        for q in QUERY_MIX:
            want = con.sql(registry.ORACLES[q]).df()
            results[q] = [len(want), oracle_canon_digest(want)]
        return results
    finally:
        con.close()


def memo_entries() -> int:
    """Entries in the engine's session-shared artifact memos."""
    from historical_obs_platform_spark import artifacts

    return sum(len(d) for d in artifacts._memo_dicts())


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), p))


def median(values) -> float:
    return float(statistics.median(values))
