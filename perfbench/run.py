"""Benchmark entry point: one workload, one SparkSession, one JSON result.

    python3 perfbench/run.py --workload pipeline_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
in a per-run directory under ``.perfbench_tmp/`` (removed at exit), in
a child process that also computes the DuckDB twins' results and exits
before anything is measured. It then sets up the engine's session and
measures: for ``pipeline_wide`` exactly one pass, which takes longer
than ``--seconds``; for ``query_mix`` whole rounds of the query list
for ``--seconds`` seconds, after one cold round that checks every
query against its DuckDB twin and a few warm rounds, none of them
timed. It checks the outputs and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics,
taken from spans around each call into the engine (see ``spans.py``),
and the spans are written to ``.perfbench_out/``. A traced run also
reports the tracing overhead per operation.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_wide", "query_mix")
GEN_REPEATS = 3


def host_info() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "uptime_s": uptime}


def cpu_times() -> list[int]:
    """The host's cumulative CPU ticks (user nice system idle iowait irq
    softirq steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int]) -> float:
    """Share of CPU time since ``before`` taken by other guests on a
    virtual host: a run with a high share reads slow for that reason."""
    d = [b - a for a, b in zip(before, cpu_times())]
    return d[7] / sum(d) if sum(d) else 0.0


def _driver_memory() -> str:
    """A heap far under the host's RAM: an eighth of it, at most 1 GiB.
    The inputs are small; a heap they fill keeps the JVM's peak resident
    set from swinging with when the collector chooses to grow the heap."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{min(1024, total_kb // 8192)}m"


def _set_host_env(tmp: str, cores: int) -> None:
    """Same settings on every run: all cores, a bounded heap, every
    scratch file inside the run directory."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and all
    its descendants: the JVM, the Python driver and the Python workers."""
    per_proc = {}
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(ln.split(":", 1) for ln in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            per_proc[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    print(json.dumps({"peak_rss_mb_by_process": per_proc}), flush=True)
    return sum(per_proc.values())


def _timed(fn):
    t0 = time.perf_counter()
    result = fn()
    return time.perf_counter() - t0, result


def _prepare(workload: str, seed: int, tmp: str) -> dict:
    """Write the inputs GEN_REPEATS times; every copy must have the same
    digest. Returns the median generation seconds, the generator's info,
    the directory of the last copy and, for ``query_mix``, the DuckDB
    twins' results."""
    import corpus
    import relational
    import workloads as W

    gen = relational.generate if workload == "query_mix" else corpus.generate
    times, digests = [], []
    for i in range(GEN_REPEATS):
        path = os.path.join(tmp, f"input{i}")
        dt, info = _timed(lambda: gen(seed, path))
        times.append(dt)
        digests.append(info["digest"])
        if i + 1 < GEN_REPEATS:
            shutil.rmtree(path)
    if len(set(digests)) != 1:
        raise RuntimeError(f"input generation is not deterministic: {digests}")
    oracle = W.oracle_results(path) if workload == "query_mix" else None
    return {"gen_s": statistics.median(times), "info": info, "dir": path,
            "oracle": oracle}


def prepare(workload: str, seed: int, tmp: str) -> dict:
    """``_prepare`` in a child process, so that the generators' and
    DuckDB's memory never counts toward the measured peak."""
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        prep = pool.submit(_prepare, workload, seed, tmp).result()
    print(json.dumps({"input_digest": prep["info"]["digest"]}), flush=True)
    return prep


def run(args, tmp: str) -> dict:
    import workloads as W
    from spans import Tracer

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    print(json.dumps({"host": host_info(), "workload": args.workload,
                      "seed": args.seed}), flush=True)
    ticks = cpu_times()
    tracer = Tracer(f"{args.workload}-s{args.seed}-p{os.getpid()}", bool(args.trace))

    prep = prepare(args.workload, args.seed, tmp)

    from historical_obs_platform_spark.session import get_spark

    with tracer.span("session.get_spark"):
        session_s, spark = _timed(lambda: get_spark("perfbench"))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer.bind(sc)
    tracer.collect_counters()

    warm = W.Outcome()
    out = W.Outcome()
    problems: list[str] = []
    memo_entries = 0.0
    checks = 0
    rates = None
    try:
        if args.workload == "pipeline_wide":
            work = os.path.join(tmp, "work")
            pipe = W.Pipeline(spark, tracer, prep["dir"], work)
            warm_s = 0.0
            t_start = time.perf_counter()
            rates = pipe.run_pass("pass", out)
            out.elapsed = time.perf_counter() - t_start
        else:
            t_warm = time.perf_counter()
            mix = W.QueryMix(spark, tracer, prep["dir"], args.seed)
            mix.warm_and_check(warm, prep["oracle"])
            tracer.enabled = False  # warm rounds leave no spans
            for _ in range(W.WARM_ROUNDS * len(W.QUERY_MIX)):
                mix.run_one(warm)
            tracer.enabled = bool(args.trace)
            warm_s = time.perf_counter() - t_warm
            memo_entries = float(W.memo_entries())
            t_start = time.perf_counter()
            i = 0
            # whole rounds, so every run carries the same mix
            while time.perf_counter() - t_start < args.seconds or i % len(W.QUERY_MIX):
                mix.run_one(out)
                i += 1
            out.elapsed = time.perf_counter() - t_start
        print(json.dumps({"operations": len(out.latencies), "window_s": out.elapsed,
                          "steal_share": round(steal_share(ticks), 4),
                          "host": host_info()}), flush=True)
        rss = peak_rss_mb()
    finally:
        _stop(spark)

    if rates is not None:
        checks += 2
        problems += W.check_pipeline(work, "pass", prep["info"]["defects"])
        digest = W.rates_digest(rates)
        print(json.dumps({"flag_digest": digest}), flush=True)
        if digest != W.rates_digest(W.recount_rates(work, "pass")):
            problems.append("flag counts differ from their pandas recount")
    for p in problems:
        print(f"# CHECK FAILED: {p}", file=sys.stderr)
    attempted = warm.attempted + out.attempted + checks
    failed = warm.failed + out.failed + len(problems)
    setup_s = session_s + prep["gen_s"] + warm_s
    if args.trace:
        metrics = layer_metrics(W, tracer, out, cores, memo_entries)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{tracer.run_id}.jsonl"))
    else:
        metrics = end_to_end(W, out, attempted, failed, setup_s, rss)
    return {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def end_to_end(W, out, attempted, failed, setup_s, rss) -> dict:
    lat = out.latencies or [float("nan")]
    # input rows per busy second: of the pass, or of all queries together
    walls = sum(w for w, _ in out.units)
    rows_per_s = sum(n for _, n in out.units) / walls if walls else 0.0
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "query_p50_ms": (W.median(lat) * 1000.0, "ms"),
        "query_p90_ms": (W.percentile(lat, 90) * 1000.0, "ms"),
        "queries_per_s": (len(out.latencies) / out.elapsed if out.elapsed else 0.0, "1/s"),
        "success_rate": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


def layer_metrics(W, tracer, out, cores, memo_entries) -> dict:
    m = tracer.layer_metrics(W.LAYER_SPANS, cores)
    m.update(tracer.layer_metrics(W.SOURCE_SPANS, cores, keys=("wall", "jobs")))
    for name in W.ROWS_OUT_SPANS:
        vals = [s.rows_out for s in tracer.spans if s.name == name and s.rows_out is not None]
        m[f"{name}.rows_out"] = (W.median(vals) if vals else 0.0, "count")
    for fam in W.FAMILIES:
        lat = [t for t, q in zip(out.latencies, out.op_names) if W.family(q) == fam
               and q in W.QUERY_MIX]
        m[f"queries.{fam}.p50_ms"] = (W.median(lat) * 1000.0 if lat else 0.0, "ms")
    m["artifacts.memo_entries"] = (memo_entries, "count")
    # what tracing added, per operation: the tracer's own bookkeeping
    n_ops = max(len(out.latencies), 1)
    m["trace.overhead_ms"] = (tracer.overhead_s * 1000.0 / n_ops, "ms")
    return m


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    sys.path[:0] = [HERE, ROOT]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(tmp)
    try:
        # before anything imports pyspark or picks a temp directory
        _set_host_env(tmp, len(os.sched_getaffinity(0)))
        import historical_obs_platform_spark  # noqa: F401  fail fast without the engine

        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
