"""QA/QC battery throughput benchmark — the README "Scale" numbers.

Generates the canonical 30-station × 6-year hourly fixture
(~1.58 M rows, deterministic: sin diurnal/seasonal signal +
hash-derived noise, FIXTURES.md §1 schema subset), stages it as
parquet, then times the full ~20-check battery (`run_qaqc` with
distribution tests + both pandas islands) end-to-end with a noop
sink. Reports first-run and steady-state (min of N warm) walls for
the full chain and the logic-only chain; the difference is the
distribution-family cost. Beside each wall it prints the py4j round
trips (Python -> JVM commands) the ``run_qaqc`` call made to build
its plan, so a plan-building regression shows without a profiler.

Usage: python scripts/qaqc_battery_bench.py [n_stations] [years] [reps]
Defaults: 30 stations, 6 years, 3 warm reps.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from historical_obs_platform_spark.plans.qaqc_chain import run_qaqc  # noqa: E402
from historical_obs_platform_spark.session import get_spark  # noqa: E402


def build_obs(spark, n_stations: int, years: int):
    """Deterministic synthetic obs: diurnal+seasonal sine, md5-hash
    noise (uniform in [0,1), engine-reproducible), occasional precip."""
    hours = years * 8766  # avg incl. leap
    st = spark.range(n_stations).select(
        F.concat(F.lit("NET_"), F.lpad(F.col("id").cast("string"), 3, "0")).alias(
            "station"
        ),
        (F.lit(35.0) + F.col("id") * 0.3).alias("lat"),
        (F.lit(-120.0) + F.col("id") * 0.2).alias("lon"),
        (F.lit(100.0) + F.col("id") * 10.0).alias("elevation"),
    )
    h = spark.range(hours).withColumnRenamed("id", "h")
    u = lambda salt: (  # noqa: E731  — uniform [0,1) from md5
        F.conv(F.substring(F.md5(F.concat_ws(":", "station", "h", F.lit(salt))), 1, 6), 16, 10).cast(
            "double"
        )
        / F.lit(16777216.0)
    )
    obs = (
        st.crossJoin(h)
        .select(
            "station",
            "lat",
            "lon",
            "elevation",
            F.expr(
                "timestamp'2014-01-01 00:00:00' + make_interval(0,0,0,0,h,0,0)"
            ).alias("time"),
            (
                F.lit(285.0)
                + F.lit(8.0) * F.sin(F.col("h") * (2 * 3.141592653589793 / 24))
                + F.lit(10.0)
                * F.sin(F.col("h") * (2 * 3.141592653589793 / 8766))
                + (u("t") - 0.5) * 2.0
            ).alias("tas"),
            F.col("h"),
        )
        .select(
            "station",
            "time",
            "lat",
            "lon",
            "elevation",
            F.round("tas", 1).alias("tas"),
            F.round(F.col("tas") - 5.0 - u("d") * 2.0, 1).alias("tdps"),
            F.round(
                F.when(u("p") < 0.1, u("pq") * 5.0).otherwise(0.0), 2
            ).alias("pr"),
            F.round(u("w") * 12.0, 1).alias("sfcWind"),
            F.round(u("wd") * 359.0 + 1.0, 0).alias("sfcWind_dir"),
            F.round(F.lit(95000.0) + (u("ps") - 0.5) * 400.0, 0).alias("ps"),
        )
    )
    return obs


def main() -> None:
    n_stations = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    years = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark("qaqc-battery-bench")
    out = tempfile.mkdtemp(prefix="hop_qaqc_bench_")
    path = f"{out}/obs.parquet"
    try:
        build_obs(spark, n_stations, years).repartition(
            32, "station"
        ).write.mode("overwrite").parquet(path)
        n_rows = spark.read.parquet(path).count()
        print(f"fixture: {n_rows:,} rows ({n_stations} stations x {years} y)")

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()
        sent = [0]

        def counting(*args, **kwargs):
            # py4j's finalizer thread releases JVM objects; only this
            # thread's commands build plans
            if threading.get_ident() == me:
                sent[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting

        def run(with_distribution: bool) -> tuple[float, int]:
            """Wall time of one chain, and the py4j round trips its
            ``run_qaqc`` call made to build the plan."""
            df = spark.read.parquet(path)
            t0 = time.perf_counter()
            sent[0] = 0
            flagged = run_qaqc(df, with_distribution=with_distribution)
            trips = sent[0]
            flagged.write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0, trips

        for label, wd in [("full", True), ("logic-only", False)]:
            first, first_trips = run(wd)
            warm = [run(wd) for _ in range(reps)]
            spark.catalog.clearCache()
            walls = [w for w, _ in warm]
            print(
                f"{label}: first {first:.1f} s ({first_trips:,} py4j round "
                f"trips), steady {min(walls):.1f} s (reps "
                f"{[f'{w:.1f} s / {n:,}' for w, n in warm]}) "
                f"= {n_rows / min(walls):,.0f} rows/s"
            )
        client.send_command = send
    finally:
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
