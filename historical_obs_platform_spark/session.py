"""SparkSession construction tuned for this engine.

Local mode is the test bed; the configuration is written for a real
multi-executor cluster (AQE on, skew-join handling, broadcast
thresholds) so the same code scales to ~100 TB by changing only
``master`` and memory/executor sizing.

``get_spark`` turns PySpark's DataFrame debugging off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every DataFrame and Column call first captures its Python call site
and ships it to the JVM, several extra round trips per call, which
tripled the cost of building a QA/QC plan. The trade-off: error
messages lose the DataFrame-context call site; the Python traceback
and the JVM query context of an ``AnalysisException`` (which names
the unresolved column and the plan) stay.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package once per process, for ``addPyFile``."""
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        fd, path = tempfile.mkstemp(suffix=".zip", prefix="hop_spark_pkg_")
        os.close(fd)
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
        _PKG_ZIP = path
    return _PKG_ZIP


def ship_package(spark: SparkSession) -> None:
    """Make the engine launch-directory-independent.

    The pandas-UDF islands (decode/similarity/clim-outlier) pickle
    module-level functions BY REFERENCE, so executors must be able to
    import ``historical_obs_platform_spark`` — which fails when the
    driver process was launched outside the repo with no PYTHONPATH.
    Shipping the package zip via ``addPyFile`` puts it on every
    worker's sys.path regardless of launch directory. On a real
    cluster the same call distributes the code to remote executors
    (equivalent to ``spark.submit.pyFiles``)."""
    try:
        sc = spark.sparkContext
        if getattr(sc, "_hop_pkg_shipped", False):
            return
        sc.addPyFile(_package_zip())
        sc._hop_pkg_shipped = True
    except Exception:  # pragma: no cover — static conf / already added
        pass

# Runtime-settable options applied defensively to *any* session handed
# to us (the driver harness owns its own SparkSession). These are the
# options correctness and scale depend on.
RUNTIME_CONF = {
    # UTC everywhere: the reference pins UTC timestamps
    # (scripts/2_clean_data/VALLEYWATER_clean.py:105); DuckDB oracle
    # timestamps are naive-UTC.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing + skew-join splitting replaces the
    # reference's hand-rolled file-size bin packing
    # (scripts/3_qaqc_data/QAQC_pipeline.py:218-250).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Reliable checkpoints (dedup.connected_components writes one per
    # iteration when a checkpoint dir is set) are deleted once their
    # RDDs are GC'd — default false leaves every superseded iteration
    # on the reliable store forever on a long-running cluster.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # Arrow for the few pandas-UDF islands (Butterworth filter etc.).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NB runtime bloom-filter join pruning
    # (spark.sql.optimizer.runtime.bloomFilter.enabled) is already on
    # by default; setting it (or semiJoinReduction) explicitly at
    # builder time hangs SparkContext startup on this build — leave
    # the defaults alone.
    # The driver's events.parquet stores TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read as long and convert in
    # tables.load (DuckDB-equivalent truncation to microseconds).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_TUNED: set[str] = set()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent).

    Memoized per applicationId: `table()` calls this on every base-table
    reference, and each conf.set is a py4j round trip (~9 ms for the
    full RUNTIME_CONF loop — ~0.2 s per bench rep of a multi-table
    query). Nothing in the repo or the driver changes these confs
    mid-session, so one application per session is enough.
    """
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover — context gone mid-shutdown
        app_id = None
    if app_id is not None and app_id in _TUNED:
        ship_package(spark)
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static
            pass
    if app_id is not None:
        _TUNED.add(app_id)
    ship_package(spark)
    return spark


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else a heap sized to the host: two
    fifths of physical memory, at most 48 GiB. Local mode runs the
    executors inside the driver JVM, whose resident set grows past its
    heap (off-heap buffers, metaspace) while Python workers run beside
    it, so a heap near the host's RAM gets the JVM OOM-killed."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    with open("/proc/meminfo") as fh:
        total_kb = int(
            next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]
        )
    return f"{min(48 * 1024, total_kb * 2 // 5 // 1024)}m"


def get_spark(app_name: str = "historical_obs_platform_spark") -> SparkSession:
    """Build (or reuse) a session.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. On a real
    cluster, replace ``master`` and add executor sizing; nothing else
    in the engine changes.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # local mode runs executors inside the driver JVM: size the
        # heap for concurrent tasks + checkpoint/broadcast blocks
        # across a long query session, not for a thin driver
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner only reclaims dropped RDD/broadcast/checkpoint
        # blocks after a JVM GC; the default periodic GC (30 min)
        # outlives a whole bench/sweep session, so blocks from
        # finished queries pile up and later queries slow down
        # (measured ~1.4x drift across repeated chain runs). A short
        # interval keeps the block manager near steady-state.
        .config("spark.cleaner.periodicGC.interval", "45s")
        # Call-site capture off: with it on, PySpark wraps every
        # DataFrame and Column call in ~4 extra JVM round trips
        # (active-session lookup, conf read, origin set and clear).
        # Errors lose only the DataFrame-context call site; the Python
        # traceback and the JVM query context stay. PySpark reads it
        # once per process, at the first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
