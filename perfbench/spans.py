"""In-memory spans around the benchmark's calls into the engine.

A span records name, start, end, parent and run id. When tracing is on,
every span runs under its own Spark job group, and after the operation
the job group is read back through the status store to give that
span's Spark counters (jobs, tasks, failed tasks, executor run time,
GC time, shuffle write, spill). Like wall time, a span's counters
include those of its child spans; self time is the wall time not
covered by a child span.

With tracing off, ``span`` only yields: no job groups, no clock reads.
With it on, the time spent in the tracer's own bookkeeping (clock
reads, job-group switches, counter reads) is summed in ``overhead_s``:
what a traced run spends beyond an untraced one.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "gc_s",
            "shuffle_write_mb", "spill_mb")
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    run_id: str
    parent: int | None
    group: str
    end: float = 0.0
    rows_out: int | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    """Collects spans for one benchmark process."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._children: dict[int, list[int]] = {}
        self._sc = None
        self._pending: list[int] = []
        self.overhead_s = 0.0

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job groups the spans use."""
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, self.run_id, parent, f"perfbench-{self.run_id}-{idx}")
        self._children.setdefault(parent, []).append(idx)
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp.group)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent].group if parent is not None else None)
            self._pending.append(idx)
            self.overhead_s += time.perf_counter() - sp.end

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    def collect_counters(self) -> None:
        """Read the Spark counters of every span closed since the last
        call. Call it after an operation completes."""
        if not self._pending:
            return
        sc = self._sc
        if sc is None:
            self._pending.clear()
            return
        t0 = time.perf_counter()
        jsc = sc._jsc.sc()
        # stage data is filled in by the listener bus, which trails the
        # job's completion; drain it before reading
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        # closing order: every child comes before its parent
        for idx in self._pending:
            sp = self.spans[idx]
            c = dict.fromkeys(COUNTERS, 0.0)
            for kid in self._children.get(idx, ()):
                for key in COUNTERS:
                    c[key] += self.spans[kid].counters.get(key, 0.0)
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # skipped stage: never attempted
                        continue
                    c["tasks"] += st.numTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1000.0
                    c["gc_s"] += st.jvmGcTime() / 1000.0
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                    c["spill_mb"] += (st.memoryBytesSpilled()
                                      + st.diskBytesSpilled()) / _MB
            sp.counters = c
        self._pending.clear()
        self.overhead_s += time.perf_counter() - t0

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it covered by child spans."""
        sp = self.spans[idx]
        kids = sorted((self.spans[k].start, self.spans[k].end)
                      for k in self._children.get(idx, ()))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def layer_metrics(self, names, cores: int, keys=None) -> dict:
        """Per span name, the median over its occurrences of wall, self
        time, each counter and cores_busy, or only of ``keys`` (from
        ``wall``, ``self``, ``cores_busy`` and ``COUNTERS``). Names with
        no occurrence read 0; ``queries.*`` times are in ms, the rest in
        s."""
        keys = keys or ("wall", "self") + COUNTERS + ("cores_busy",)
        out = {}
        for name in names:
            idxs = [i for i, s in enumerate(self.spans) if s.name == name]
            ms = name.startswith("queries.")
            scale, unit = (1000.0, "ms") if ms else (1.0, "s")
            rows = [self._row(i, cores) for i in idxs]
            for key in keys:
                v = statistics.median(r[key] for r in rows) if rows else 0.0
                if key in ("wall", "self"):
                    out[f"{name}.{key}_{unit}"] = (v * scale, unit)
                else:
                    out[f"{name}.{key}"] = (v, "ratio" if key == "cores_busy" else _unit(key))
        return out

    def _row(self, idx: int, cores: int) -> dict:
        sp = self.spans[idx]
        wall = sp.end - sp.start
        row = {"wall": wall, "self": self.self_time(idx)}
        row.update({k: sp.counters.get(k, 0.0) for k in COUNTERS})
        row["cores_busy"] = row["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        return row

    def dump(self, path: str) -> None:
        """Write every span as one JSON object per line."""
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                rec = asdict(sp)
                rec["index"] = i
                rec["self"] = self.self_time(i)
                fh.write(json.dumps(rec) + "\n")


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    return "count"
