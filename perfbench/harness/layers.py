"""Per-layer metrics from a traced run's record.

The record holds spans (pass -> query -> phase, and the ten table loads),
jobs parented to the phase or load span named in their local properties,
stages with their task aggregates, and one entry per Dataset action, placed
in time by the end of its query planning. All
figures are per traced pass (sums over the traced passes divided by their
number), except the table loads, which run once.
"""
from . import stats

# name -> unit, in the order BENCHMARK.json lists them. Every metric is
# defined on every workload, so that no time reads a constant 0 by design.
METRICS = {
    "session.build_s": "s",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "build.s": "s",
    "build.jobs": "count",
    "build.actions": "count",
    "build.job_frac": "frac",
    "build.driver_gap_s": "s",
    "plan.s": "s",
    "exec.s": "s",
    "exec.job_frac": "frac",
    "exec.driver_gap_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_frac": "frac",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_records": "count",
    "exec.spill_mb": "MB",
    "exec.gc_frac": "frac",
    "exec.failed_tasks": "count",
    "ckpt.persisted_rdds": "count",
    "ckpt.cleanup_s": "s",
    "mr.map_stage_s": "s",
    "mr.reduce_stage_s": "s",
    "mr.reduce_task_skew": "ratio",
    "trace.overhead_frac": "frac",
    "trace.phase_cover_min": "frac",
}


def parent_jobs(spans, jobs):
    """Map each job to its span: the one named in its properties, else
    (a job fired from a thread that did not inherit them) the phase or
    load span whose interval holds its start. Queries run one at a time,
    so at most one such span is open."""
    leaves = [s for s in spans if s["kind"] in ("phase", "load")]
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        span = by_id.get(j["parent"])
        if span is None:
            span = next((s for s in leaves if s["start"] <= j["start"] <= s["end"]), None)
        if span is not None:
            out[j["id"]] = span
    return out


def per_layer(trace, untraced_passes, cores, session_s):
    """(metrics, per-query breakdown) of a traced run. The breakdown maps
    each query to its build/plan/exec/cleanup seconds, its build jobs and
    the share of its wall its phases cover, per traced pass."""
    spans, jobs = trace["spans"], trace["jobs"]
    n = len(trace["passes"])
    by_job = {j["id"]: j for j in jobs}
    jobs_in = {}
    for job_id, span in parent_jobs(spans, jobs).items():
        jobs_in.setdefault(span["id"], []).append(by_job[job_id])
    stages_of = {}
    for st in trace["stages"]:
        stages_of.setdefault(st["id"], []).append(st)

    def phase(name):
        return [s for s in spans if s["kind"] == "phase" and s["name"] == name]

    def jobs_under(ss):
        return [j for s in ss for j in jobs_in.get(s["id"], [])]

    def intervals(s):
        return [(j["start"], j["end"] if j["end"] is not None else j["start"])
                for j in jobs_in.get(s["id"], [])]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def gap_s(ss):
        return sum(stats.self_time(s["start"], s["end"], intervals(s)) for s in ss)

    m = {"session.build_s": session_s}
    loads = [s for s in spans if s["kind"] == "load"]
    m["sources.load_s"] = dur(loads)
    m["sources.load_jobs"] = len(jobs_under(loads))

    build, ex = phase("build"), phase("exec")
    m["build.s"] = dur(build) / n
    m["build.jobs"] = len(jobs_under(build)) / n
    m["build.actions"] = sum(1 for a in trace["actions"] if a["at"] is not None
                             and any(s["start"] <= a["at"] <= s["end"] for s in build)) / n
    m["build.job_frac"] = 1 - gap_s(build) / dur(build)
    m["build.driver_gap_s"] = gap_s(build) / n
    m["plan.s"] = dur(phase("plan")) / n

    ex_jobs = jobs_under(ex)
    ex_stages = list({(st["id"], st["attempt"]): st for j in ex_jobs for sid in j["stages"]
                      for st in stages_of.get(sid, [])}.values())
    m["exec.s"] = dur(ex) / n
    m["exec.job_frac"] = 1 - gap_s(ex) / dur(ex)
    m["exec.driver_gap_s"] = gap_s(ex) / n
    m["exec.jobs"] = len(ex_jobs) / n
    m["exec.stages"] = len(ex_stages) / n
    m["exec.tasks"] = sum(st["tasks"] for st in ex_stages) / n
    busy = sum(sum(st["task_run_s"]) for st in ex_stages)
    m["exec.task_busy_frac"] = busy / (dur(ex) * cores)
    m["exec.shuffle_write_mb"] = sum(st["shuffle_write_bytes"] for st in ex_stages) / 1e6 / n
    m["exec.shuffle_read_mb"] = sum(st["shuffle_read_bytes"] for st in ex_stages) / 1e6 / n
    m["exec.shuffle_records"] = sum(st["shuffle_records"] for st in ex_stages) / n
    m["exec.spill_mb"] = sum(st["spill_bytes"] for st in ex_stages) / 1e6 / n
    m["exec.gc_frac"] = sum(st["gc_s"] for st in ex_stages) / busy if busy > 0 else 0.0
    m["exec.failed_tasks"] = sum(st["failed_tasks"] for st in ex_stages) / n

    samples = [q for p in trace["passes"] for q in p["queries"]]
    m["ckpt.persisted_rdds"] = sum(q["persisted_rdds"] for q in samples) / n
    m["ckpt.cleanup_s"] = dur(phase("cleanup")) / n

    # MR's shape on any workload: the map side of a shuffle writes it, the
    # reduce side reads it and writes none (on wordcount, MR.run's two stages)
    ran = [st for st in ex_stages if st["start"] is not None and st["end"] is not None]
    maps = [st for st in ran if st["shuffle_write_bytes"] > 0]
    reduces = [st for st in ran if st["shuffle_read_bytes"] > 0 and st["shuffle_write_bytes"] == 0]
    m["mr.map_stage_s"] = sum(st["end"] - st["start"] for st in maps) / n
    m["mr.reduce_stage_s"] = sum(st["end"] - st["start"] for st in reduces) / n
    skews = [max(st["task_run_s"]) / stats.median(st["task_run_s"])
             for st in reduces if len(st["task_run_s"]) > 1 and stats.median(st["task_run_s"]) > 0]
    m["mr.reduce_task_skew"] = stats.median(skews) if skews else 1.0

    # against the untraced passes before and after, so that warming cancels
    untraced = (stats.median([p["seconds"] for p in untraced_passes])
                + stats.median([p["seconds"] for p in trace["untraced_after"]])) / 2
    m["trace.overhead_frac"] = stats.median([p["seconds"] for p in trace["passes"]]) / untraced - 1
    queries = {}
    for q in (s for s in spans if s["kind"] == "query"):
        kids = [c for c in spans if c["parent"] == q["id"]]
        row = queries.setdefault(q["name"], {"wall_s": 0.0, "phases_s": 0.0, "build_jobs": 0})
        row["wall_s"] += (q["end"] - q["start"]) / n
        row["phases_s"] += stats.union_length([(c["start"], c["end"]) for c in kids]) / n
        for c in kids:
            row[f"{c['name']}_s"] = row.get(f"{c['name']}_s", 0.0) + (c["end"] - c["start"]) / n
        row["build_jobs"] += len(jobs_under([c for c in kids if c["name"] == "build"])) / n
    for row in queries.values():
        row["phase_cover"] = row.pop("phases_s") / row["wall_s"]
    m["trace.phase_cover_min"] = min(r["phase_cover"] for r in queries.values())
    return m, queries
