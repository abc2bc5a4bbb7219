"""Measurement plumbing: process CPU and memory from /proc, host-load
stamps, in-memory spans, and Spark's own counters (Catalyst phase
tracker, status-tracker job ids, the uncompressed event log).

Spans are recorded only in a traced run. Each span sets a Spark job
group, so every job the program launches inside it is attributed to the
span's layer, both live (``statusTracker``) and in the event log.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of a process and all its descendants
    (the JVM and its Python workers), including reaped children, less
    the JVM's JIT compiler threads: their CPU is the JVM warming up, not
    the program's work, and it varied by seconds per unit between runs."""
    total = 0
    for p in _descendants(pid or os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
        if _comm(p) == "java":
            total -= _jit_ticks(p)
    return total / _CLK_TCK


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's C1/C2 compiler threads (kept alive for the
    JVM's lifetime by -XX:-UseDynamicNumberOfCompilerThreads, so none of
    their time leaves with an exited thread)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_peak_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus its JVM."""
    me = os.getpid()
    pids = [me] + [p for p in _descendants(me) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def host_stamp() -> dict:
    """Host load context: 1/5/15-minute load averages and cumulative
    steal time (s), to compare a run's start with its end."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    steal = 0.0
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                f = line.split()
                steal = int(f[8]) / _CLK_TCK if len(f) > 8 else 0.0
                break
    return {"loadavg": load, "steal_s": round(steal, 2), "t": time.time()}


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call a no-op,
    so the untraced run pays nothing but the call. Spans do not nest:
    each one is a single call into one layer."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        group = f"s{len(self.spans)}"
        rec = {"layer": layer, "name": name, "group": group, **attrs}
        self.spans.append(rec)
        sc.setJobGroup(group, f"{layer}:{name}")
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def group_ids(self) -> dict[str, dict]:
        return {s["group"]: s for s in self.spans}


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) from the query's
    own ``QueryExecution.tracker``; forces the lazy phases first."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("cpu_ms", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_b", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_b", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_b", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_b", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_b", 1.0),
}


def parse_event_log(directory: str) -> dict:
    """Jobs and stages from Spark's uncompressed JSON-lines event log:
    ``{"jobs": {id: {group, callsite, stages}}, "stages": {id: {...}}}``.
    Stage totals come from the completed stage's accumulables; ``arrow``
    marks stages whose plan scopes include a pandas/Arrow operator."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for name in os.listdir(directory):
        with open(os.path.join(directory, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "callsite": props.get("callSite.short", ""),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    rec = {k: 0.0 for k, _ in _ACC.values()}
                    for acc in info.get("Accumulables", []):
                        hit = _ACC.get(acc.get("Name"))
                        if hit:
                            rec[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                    rec["tasks"] = info.get("Number of Tasks", 0)
                    scopes = " ".join(
                        str(r.get("Scope", "")) for r in info.get("RDD Info", [])
                    )
                    rec["arrow"] = ("InPandas" in scopes or "ArrowEval" in scopes
                                    or "ArrowPython" in scopes)
                    # a stage retried or skipped keeps the last completion
                    stages[info["Stage ID"]] = rec
    return {"jobs": jobs, "stages": stages}


def exec_totals(log: dict, job_ids) -> dict:
    """Sum stage metrics over the given jobs (each stage counted once)."""
    seen: set[int] = set()
    tot = {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_b": 0.0,
           "shuffle_write_b": 0.0, "spill_b": 0.0, "tasks": 0, "stages": 0,
           "arrow_run_ms": 0.0, "jobs": 0}
    for j in job_ids:
        job = log["jobs"].get(j)
        if job is None:
            continue
        tot["jobs"] += 1
        for s in job["stages"]:
            st = log["stages"].get(s)
            if st is None or s in seen:
                continue  # skipped (reused shuffle) or already counted
            seen.add(s)
            for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_b",
                      "shuffle_write_b", "spill_b", "tasks"):
                tot[k] += st[k]
            tot["stages"] += 1
            if st["arrow"]:
                tot["arrow_run_ms"] += st["run_ms"]
    return tot
