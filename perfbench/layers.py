"""Per-layer metrics of a traced run.

Every workload reports the same names; a layer the workload never
enters reads 0. The comment beside each group names the end-to-end
metric it should move and on which workload (README.md has the table).
"""

from __future__ import annotations

from measure import exec_totals
from workloads import RegistryTail, median

_QUERY_NAMES = RegistryTail.QUERIES

UNITS: dict[str, str] = {
    # setup_s, every workload
    "session.start_s": "s", "registry.import_s": "s",
    # wall_s / rows_per_s on daily_etl (its self-time pass)
    "sources.exec_s": "s", "sources.rows_out": "count",
    "clean.exec_s": "s", "clean.rows_in": "count", "clean.rows_out": "count",
    "clean.keep_ratio": "ratio", "enrich.exec_s": "s",
    "enrich.shuffle_write_mb": "MB",
    # wall_s on daily_etl
    "quality.exec_s": "s", "quality.jobs": "count", "sink.exec_s": "s",
    "sink.files_written": "count", "sink.bytes_written_mb": "MB",
    # per-batch latency of the stream drain in daily_etl's traced run
    "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.latest_offset_s": "s",
    "stream.query_planning_s": "s", "stream.batch_overhead_s": "s",
    "stream.state_rows": "count", "stream.batches": "count",
    # op_p50_s / wall_s on registry_tail
    **{f"query.{q}.{k}": u for q in _QUERY_NAMES
       for k, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))},
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "arrow.exec_s": "s",
    # wall_s and cpu_s on every workload, per unit of work
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.tasks": "count", "exec.stages": "count",
    "exec.jobs": "count",
    # traced wall_s, and its excess over the run's untraced units
    "trace.wall_s": "s", "trace.overhead_s": "s",
}

_STREAM = {
    "stream.add_batch_s": "addBatch", "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
    "stream.query_planning_s": "queryPlanning",
}

# a job's call site names the program file that ran the action; PySpark
# records it for collect-style actions only, so other jobs keep their span
_CALLSITE_LAYERS = (
    ("io_sink.py", "sink"), ("plans/quality.py", "quality"),
    ("plans/analytics.py", "analytics"), ("operators/", "operators"),
    ("streaming/", "stream"), ("pipeline.py", "pipeline"),
    ("sources/", "sources"), ("registry", "registry"),
)


def _job_layer(job: dict, span: dict) -> str:
    site = job.get("callsite") or ""
    for needle, layer in _CALLSITE_LAYERS:
        if needle in site:
            return f"{span['name']}@{layer}"
    return span["name"]


def per_layer(setup: dict, units, selfs: dict, tracer,
              log: dict) -> tuple[dict, dict]:
    """(metrics named as in ``UNITS``, per-span executor table) of a traced
    run, from its setup times, units, self-time pass, spans and event log."""
    m = {name: 0.0 for name in UNITS}
    m["session.start_s"] = setup["session.start_s"]
    m["registry.import_s"] = setup["registry.import_s"]
    for key, value in selfs.items():
        if key in m:
            m[key] = float(value)
    groups = tracer.group_ids()
    jobs_by_group: dict[str, list[int]] = {}
    for jid, job in log["jobs"].items():
        jobs_by_group.setdefault(job["group"], []).append(jid)
    if "_enrich_group" in selfs:
        tot = exec_totals(log, jobs_by_group.get(selfs["_enrich_group"], []))
        m["enrich.shuffle_write_mb"] = tot["shuffle_write_b"] / 2**20

    traced = [u for u in units if u.traced]
    plain = [u for u in units if not u.traced]
    n = max(len(traced), 1)
    measured = [jid for g, s in groups.items() if "unit" in s
                for jid in jobs_by_group.get(g, [])]
    tot = exec_totals(log, measured)
    m["exec.run_s"] = tot["run_ms"] / 1000 / n
    m["exec.cpu_s"] = tot["cpu_ms"] / 1000 / n
    m["exec.gc_s"] = tot["gc_ms"] / 1000 / n
    m["exec.shuffle_read_mb"] = tot["shuffle_read_b"] / 2**20 / n
    m["exec.shuffle_write_mb"] = tot["shuffle_write_b"] / 2**20 / n
    m["exec.spill_mb"] = tot["spill_b"] / 2**20 / n
    m["exec.tasks"] = tot["tasks"] / n
    m["exec.stages"] = tot["stages"] / n
    m["exec.jobs"] = tot["jobs"] / n
    m["arrow.exec_s"] = tot["arrow_run_ms"] / 1000 / n
    if traced:
        m["trace.wall_s"] = median([u.wall_s for u in traced])
        m["trace.overhead_s"] = m["trace.wall_s"] - median(
            [u.wall_s for u in plain])

    progress = selfs.get("_stream_progress", [])
    batches = [p for p in progress if p["numInputRows"] > 0]
    if batches:
        for key, field in _STREAM.items():
            m[key] = median([p["durationMs"].get(field, 0) / 1000
                             for p in batches])
        m["stream.batch_overhead_s"] = median([
            (p["durationMs"]["triggerExecution"]
             - p["durationMs"].get("addBatch", 0)) / 1000 for p in batches])
        m["stream.state_rows"] = max(
            sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
            for p in progress)
        m["stream.batches"] = len(batches)

    queries = [u.detail["queries"] for u in units if "queries" in u.detail]
    for q in _QUERY_NAMES:
        reps = [d[q] for d in queries if q in d]
        if not reps:
            continue
        m[f"query.{q}.build_s"] = median([r["build_s"] for r in reps])
        m[f"query.{q}.exec_s"] = median([r["exec_s"] for r in reps])
        m[f"query.{q}.build_jobs"] = median(
            [r["build_jobs"] for r in reps if "build_jobs" in r])
    traced_q = [u.detail["queries"] for u in traced if "queries" in u.detail]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = median([
            sum(r["catalyst"][phase] for r in d.values()) for d in traced_q])

    # context table: executor time of the measured jobs per span, split by
    # the program file that launched them where the call site names one
    table: dict[str, dict] = {}
    for g, s in groups.items():
        if "unit" not in s:
            continue
        for jid in jobs_by_group.get(g, []):
            layer = _job_layer(log["jobs"][jid], s)
            t = exec_totals(log, [jid])
            row = table.setdefault(layer, {"jobs": 0, "run_s": 0.0, "cpu_s": 0.0})
            row["jobs"] += 1
            row["run_s"] += t["run_ms"] / 1000 / n
            row["cpu_s"] += t["cpu_ms"] / 1000 / n
    return m, table
