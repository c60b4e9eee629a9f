"""Turn timed units, spans and the Spark event log into the metrics the
benchmark prints. The metric names here are the ones BENCHMARK.json
lists; a test keeps the two in step."""

from __future__ import annotations

from typing import Dict, List

from .eventlog import EventLog, job_time, task_summary
from .stats import covered, median, self_times, tail
from .tracing import group_id

#: operators the workloads use; each gets transform_s and calls
OPERATORS = ["Categorify", "FillMissing", "Clip", "LogOp", "Normalize",
             "TargetEncoding", "Rename", "ListSlice", "Lag", "RollingAgg",
             "Sessionize", "AsOfJoin"]
#: operators with a fit phase; each also gets fit_s
STAT_OPERATORS = ["Categorify", "Normalize", "TargetEncoding"]

SPARK_SUMMARY = ["stages", "tasks", "failed_tasks", "executor_run_s",
                 "executor_cpu_s", "gc_s", "scheduler_delay_s",
                 "core_busy_frac", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "input_bytes",
                 "output_bytes", "max_task_s", "median_task_s", "task_skew"]


def end_to_end(units: List[dict], rows_per_unit: int, setup: dict,
               setup_fits: List[float], peak_rss_mb: float):
    """The user-visible metrics of an untraced run, and details for
    the run report. ``units`` are the phase times of the timed units
    that completed."""
    totals = [u["total_s"] for u in units]
    tail_ms, tail_pct, rule_met = tail([t * 1e3 for t in totals])
    fits = setup_fits or [u["fit_s"] for u in units]
    values = {
        "setup_s": setup["setup_s"],
        "rows_per_s": median([rows_per_unit / t for t in totals]),
        "fit_s": median(fits),
        "transform_s": median([u["transform_s"] for u in units]),
        "latency_p50_ms": median(totals) * 1e3,
        "latency_tail_ms": tail_ms,
        "peak_rss_mb": peak_rss_mb,
    }
    detail = {"samples": len(totals), "tail_percentile": round(tail_pct, 1),
              "tail_rule_met": rule_met, "fit_samples": len(fits),
              "unit_s": [round(t, 3) for t in totals],
              "transform_s": [round(u["transform_s"], 3) for u in units],
              "fit_s": [round(f, 3) for f in fits]}
    return values, detail


def _subtree(root_id: int, kids: Dict[int, List[dict]]) -> List[dict]:
    out, todo = [], list(kids.get(root_id, []))
    while todo:
        sp = todo.pop()
        out.append(sp)
        todo.extend(kids.get(sp["id"], []))
    return out


def unit_layers(spans: List[dict], log: EventLog, wall_s: float,
                cores: int) -> dict:
    """Per-layer numbers of one traced unit from its spans (all of one
    unit) and the jobs those spans started."""
    by_id = {sp["id"]: sp for sp in spans}
    kids: Dict[int, List[dict]] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    own = self_times(spans)

    def total(name):
        return sum(sp["end"] - sp["start"] for sp in spans
                   if sp["name"] == name)

    def count(name):
        return sum(sp["name"] == name for sp in spans)

    m: Dict[str, float] = {}
    fit_jobs, fit_driver = 0, 0.0
    for fit in (sp for sp in spans if sp["name"] == "plans.Workflow.fit"):
        groups = {group_id(s["id"]) for s in [fit] + _subtree(fit["id"], kids)}
        jobs = log.jobs_in(groups, (fit["start"], fit["end"]))
        fit_jobs += len(jobs)
        fit_driver += (fit["end"] - fit["start"]) - covered(
            (fit["start"], fit["end"]),
            [(j["start"], j["end"]) for j in jobs if j["end"] is not None])
    builds = [sp for sp in spans if sp["name"] == "plans.Workflow.transform"]
    m["plans.fit_s"] = total("plans.Workflow.fit")
    m["plans.fit_jobs"] = fit_jobs
    m["plans.fit_driver_s"] = fit_driver
    m["plans.build_s"] = total("plans.Workflow.transform")
    m["plans.py4j_calls"] = sum(sp["py4j"] for sp in builds)
    build_ids = {sp["id"] for sp in builds}
    m["plans.compile_s"] = sum(
        own[sp["id"]] for sp in spans
        if sp["name"] == "plans.CompiledPlan.run"
        and sp["parent"] in build_ids)
    for op in OPERATORS:
        if op in STAT_OPERATORS:
            m[f"operators.{op}.fit_s"] = total(f"operators.{op}.fit")
        m[f"operators.{op}.transform_s"] = total(f"operators.{op}.transform")
        m[f"operators.{op}.calls"] = (count(f"operators.{op}.fit")
                                      + count(f"operators.{op}.transform"))
    swp = "functions.planning.scale_window_partitions"
    m[f"{swp}.calls"] = count(swp)
    m[f"{swp}.s"] = total(swp)
    m["sources.read_s"] = total("sources.read_dataset")
    m["spark.plan_s"] = total("spark.plan")

    groups = {group_id(i) for i in by_id}
    units = [sp for sp in spans if sp["name"] == "unit"]
    window = (units[0]["start"], units[0]["end"]) if units else None
    jobs = log.jobs_in(groups, window)
    m["spark.jobs"] = len(jobs)
    m["spark.job_s"] = job_time(jobs)
    summary = task_summary(log.tasks_in(groups, window), wall_s, cores)
    for k in SPARK_SUMMARY:
        m[f"spark.{k}"] = summary[k]
    return m


def per_layer(spans: List[dict], log: EventLog, traced: Dict[str, float],
              untraced: Dict[str, float], cores: int, gen_s: List[float],
              error_lines: int) -> dict:
    """Medians over the traced units of each per-unit number, plus the
    run-level ones. ``traced``/``untraced`` map unit id to work wall
    time."""
    by_unit: Dict[str, List[dict]] = {}
    for sp in spans:
        by_unit.setdefault(sp["unit"], []).append(sp)
    rows = [unit_layers(by_unit.get(u, []), log, wall, cores)
            for u, wall in traced.items()]
    m = {k: median([r[k] for r in rows]) for k in rows[0]}
    m["sources.gen_s"] = median(gen_s)
    m["spark.error_log_lines"] = error_lines
    t, u = median(list(traced.values())), median(list(untraced.values()))
    m["trace.traced_unit_s"] = t
    m["trace.untraced_unit_s"] = u
    m["trace.overhead_frac"] = t / u - 1
    return m
