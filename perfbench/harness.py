"""Measurement helpers shared by the workloads: percentiles, the op
recorder, the Spark job-group tracer, and memory/disk probes that read
``/proc`` and walk directories (no third-party packages)."""

from __future__ import annotations

import math
import os
import sys
import time
import traceback
from collections import defaultdict
from typing import Any, Callable


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100), numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def memory(spark) -> dict[str, float]:
    """Driver memory in MB: the Python process's RSS high-water
    (``VmHWM``), the JVM's non-heap use (metaspace, code cache), the
    JVM's live heap after a full GC, and the JVM's RSS high-water."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mb = float(1 << 20)
    return {
        "python_peak": _vm_hwm_kb("self") / 1024.0,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / mb,
        "jvm_heap_live": mx.getHeapMemoryUsage().getUsed() / mb,
        "jvm_rss_peak": _vm_hwm_kb(jvm.java.lang.ProcessHandle.current().pid()) / 1024.0,
    }


def memory_layers(spark) -> dict[str, tuple[float, str]]:
    return {f"mem.{k}_mb": (v, "MB") for k, v in memory(spark).items()}


def memory_mb(mem: dict[str, float]) -> float:
    """The bounded memory metric: Python peak RSS plus JVM non-heap.
    The JVM heap is left out: its RSS high-water records when the
    collector chose to run, and even its live size after a full GC
    moved by a third between identical runs (softly referenced caches),
    so both are reported per layer instead."""
    return mem["python_peak"] + mem["jvm_non_heap"]


def tree_bytes(path: str) -> int:
    total = 0
    for d, _sub, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def parquet_files(path: str) -> int:
    return sum(
        1 for _d, _sub, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


_STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


class Tracer:
    """Tags each op with its own Spark job group and, when the op
    returns, reads the group's jobs and stages from the status store
    (works with the UI disabled). ``self_s`` accumulates the time spent
    in this bookkeeping, which an untraced run does not pay."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.self_s = 0.0
        self._n = 0

    def begin(self, kind: str) -> str:
        t = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, kind)
        self.self_s += time.perf_counter() - t
        return group

    def end(self, group: str) -> dict[str, float]:
        t = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # job/stage end events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        rec = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_ms", "spill_bytes")}
        rec.update({k: 0.0 for k in _STAGE_FIELDS})
        for j in tracker.getJobIdsForGroup(group):
            rec["jobs"] += 1
            jd = store.job(j)
            rec["job_ms"] += (
                jd.completionTime().get().getTime() - jd.submissionTime().get().getTime()
            )
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else []:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                for k, f in _STAGE_FIELDS.items():
                    rec[k] += getattr(sd, f)()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        self.self_s += time.perf_counter() - t
        return rec


class Recorder:
    """Closed-loop op runner: times each op, checks its output outside
    the timed region, and keeps failures without stopping the run."""

    def __init__(self, tracer: Tracer | None = None):
        self.tracer = tracer
        # every op's latency, failed or not: a failure shows in ok_frac,
        # and a kind whose ops all failed still has a latency
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.ok: dict[str, int] = defaultdict(int)
        self.trace: dict[str, list[dict[str, float]]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def run(self, kind: str, call: Callable[[], Any], check: Callable[[Any], bool]) -> Any:
        self.attempted += 1
        group = self.tracer.begin(kind) if self.tracer else None
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        else:
            ok = None
        ms = (time.perf_counter() - t0) * 1000.0
        if group is not None:
            rec = self.tracer.end(group)
            rec["wall_ms"] = ms
            rec["driver_ms"] = ms - rec["job_ms"]  # Python, py4j, planning, local I/O
            self.trace[kind].append(rec)
        if ok is None:
            try:
                ok = bool(check(out))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        self.lat_ms[kind].append(ms)
        if ok:
            self.ok[kind] += 1
        else:
            self.fail(kind)
        return out

    def fail(self, kind: str, n: int = 1) -> None:
        if n:
            print(f"perfbench: {n} {kind} op(s) failed verification", file=sys.stderr)
        self.failed += n

    def p(self, kind: str, q: float) -> float:
        """Latency percentile of one kind; 0 if none of its ops ran."""
        vals = self.lat_ms.get(kind)
        return percentile(vals, q) if vals else 0.0

    def kind_stat(self, kind: str, field: str) -> float:
        """Median over the kind's traced ops of one field; 0 if none ran."""
        recs = self.trace.get(kind)
        return percentile([r[field] for r in recs], 50) if recs else 0.0
