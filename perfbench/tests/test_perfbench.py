"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests run the benchmark at its real input sizes with a
one-second window, one Spark session per run (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import relational  # noqa: E402
import workloads as W  # noqa: E402


def test_corpus_digest_follows_seed(tmp_path):
    a = corpus.generate(1, str(tmp_path / "a"))
    b = corpus.generate(1, str(tmp_path / "b"))
    c = corpus.generate(2, str(tmp_path / "c"))
    assert a["digest"] == b["digest"]
    assert a["defects"] == b["defects"]
    assert a["digest"] != c["digest"]


def test_tables_digest_follows_seed(tmp_path):
    a = relational.generate(1, str(tmp_path / "a"))
    b = relational.generate(1, str(tmp_path / "b"))
    c = relational.generate(2, str(tmp_path / "c"))
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]


def _flags_with_every_defect(defects) -> pd.DataFrame:
    """A QA/QC result that carries exactly the planted flags."""
    rows = {}
    for station, time, var, flag in defects:
        rows.setdefault((station, time), {})[f"{var}_eraqc"] = float(flag)
    recs = [{"station": s, "time": t, **f} for (s, t), f in rows.items()]
    return pd.DataFrame(recs)


def test_defect_check_rejects_a_removed_flag(tmp_path):
    info = corpus.generate(3, str(tmp_path / "raw"))
    defects = info["defects"]
    assert {d[2] for d in defects} == {v for _d, v, _f in corpus.DEFECTS}
    flags = _flags_with_every_defect(defects)
    assert W.defect_mismatches(flags, defects) == []
    station, time, var, _flag = defects[0]
    hit = (flags["station"] == station) & (flags["time"] == time)
    flags.loc[hit, f"{var}_eraqc"] = np.nan
    assert len(W.defect_mismatches(flags, defects)) == 1


def _benchmark_names(key: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[key]}


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    """The result line and the stdout lines before it."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _check(result: dict, trace: int) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == _benchmark_names(key)
    for m in result["metrics"].values():
        assert isinstance(m["value"], float) and m["unit"]


def _flag_digest(lines: list[str]) -> str:
    recs = [json.loads(ln) for ln in lines if ln.startswith('{"flag_digest"')]
    assert len(recs) == 1
    return recs[0]["flag_digest"]


def test_pipeline_smoke_and_flag_digest_repeats():
    first, lines1 = _run("pipeline_wide", 0)
    _check(first, 0)
    second, lines2 = _run("pipeline_wide", 0)
    _check(second, 0)
    assert _flag_digest(lines1) == _flag_digest(lines2)


@pytest.mark.parametrize("workload,trace", [("pipeline_wide", 1), ("query_mix", 0),
                                            ("query_mix", 1)])
def test_smoke_run_prints_the_benchmark_metrics(workload, trace):
    _check(_run(workload, trace)[0], trace)
