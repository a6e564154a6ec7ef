"""Per-layer metrics from a traced run: spans, py4j counts and the
Spark status store, attributed per model and summed per pass."""

from __future__ import annotations

import statistics

from spans import LAYERS, innermost, self_times, union_length

SPARK_FIELDS = {
    # metric: (stage field, scale, unit)
    "spark.task_s": ("executorRunTime", 1e-3, "s"),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9, "s"),
    "spark.input_bytes": ("inputBytes", 1, "B"),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1, "B"),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1, "B"),
    "spark.spill_bytes": ("diskBytesSpilled", 1, "B"),
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {
        "query.build_s": "s", "query.action_s": "s",
        "query.build_jobs": "count", "query.action_jobs": "count",
        "driver.self_s": "s",
        "py4j.build_calls": "count", "py4j.action_calls": "count",
        "spark.stages": "count", "spark.tasks": "count", "spark.job_s": "s",
    }
    units.update({m: u for m, (_, _, u) in SPARK_FIELDS.items()})
    units.update({"io.write_bytes": "B", "cache.rdds_left": "count"})
    for layer in LAYERS:
        units.update({f"{layer}.self_s": "s", f"{layer}.calls": "count",
                      f"{layer}.jobs": "count", f"{layer}.py4j_calls": "count"})
    units.update({
        "txnlog.commit_conflicts": "count",
        "plans.mv_rewrite.hit_ratio": "ratio",
        "trace.unspanned_s": "s",
        "trace.overhead_frac": "ratio",
    })
    return units


# Spark stamps jobs in whole milliseconds
EPS = 0.001


def _ms(v) -> float | None:
    return None if v is None else v / 1000.0


def _within(t: float, span) -> bool:
    return span is not None and span.t0 - EPS <= t <= span.t1 + EPS


def model_metrics(rec: dict, spans: list) -> dict:
    """Per-layer values for one traced model. ``rec`` is the harness's
    model record (spans, jobs/stages snapshot, py4j and io deltas);
    ``spans`` are this model's spans."""
    root, build = rec["spans"]["model"], rec["spans"]["build"]
    action = rec["spans"].get("action")
    jobs = []
    for j in rec["jobs"]:
        sub = _ms(j.get("submissionTime"))
        if sub is not None and _within(sub, root):
            end = _ms(j.get("completionTime")) or root.t1
            jobs.append((sub, end, j))
    in_build = [j for j in jobs if _within(j[0], build)]
    in_action = [j for j in jobs if _within(j[0], action) and not _within(j[0], build)]
    eager_s = union_length([(a, b) for a, b, _ in in_build], build.t0, build.t1)
    m = {
        "query.build_s": rec["build_s"], "query.action_s": rec["action_s"],
        "query.build_jobs": len(in_build), "query.action_jobs": len(in_action),
        "driver.self_s": rec["build_s"] - eager_s,
        "eager_job_s": eager_s,
        "py4j.build_calls": rec["py4j_build"], "py4j.action_calls": rec["py4j_action"],
        "spark.job_s": sum(b - a for a, b, _ in jobs),
        "io.write_bytes": rec["io_write_bytes"], "cache.rdds_left": rec["rdds_left"],
    }
    stage_ids = {s for _, _, j in jobs for s in j.get("stageIds", [])}
    stages = [rec["stages"][s] for s in stage_ids if s in rec["stages"]]
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s.get("numTasks", 0) for s in stages)
    for name, (field, scale, _) in SPARK_FIELDS.items():
        m[name] = sum(s.get(field, 0) for s in stages) * scale

    selfs = self_times(spans)
    for layer in LAYERS:
        m.update({f"{layer}.self_s": 0.0, f"{layer}.calls": 0,
                  f"{layer}.jobs": 0, f"{layer}.py4j_calls": 0})
    layered = set(LAYERS)
    for s in spans:
        if s.layer in layered:
            m[f"{s.layer}.self_s"] += selfs[s.sid]
            m[f"{s.layer}.calls"] += 1
            m[f"{s.layer}.py4j_calls"] += s.py4j
    for sub, _, _ in jobs:
        owner = innermost(spans, sub)
        if owner is not None and owner.layer in layered:
            m[f"{owner.layer}.jobs"] += 1
    m["trace.unspanned_s"] = sum(selfs[s.sid] for s in spans if s.layer not in layered)
    layer_self = sum(m[f"{layer}.self_s"] for layer in LAYERS)
    wall = root.t1 - root.t0
    # self times partition the model's wall clock unless spans on other
    # threads overlapped each other
    m["identity_residual_s"] = layer_self + m["trace.unspanned_s"] - wall
    return m


def classify(m: dict) -> str:
    """Which part bounds a model: its final action, the eager Spark jobs
    fired while building it, or driver-side Python and py4j."""
    driver, eager, action = m["driver.self_s"], m["eager_job_s"], m["query.action_s"]
    if action >= max(driver, eager):
        return "action-bound"
    return "job-count-bound" if eager >= driver else "driver-bound"


def trace_results(passes: list[dict], tracer) -> tuple[dict[str, tuple[float, str]], dict]:
    """The traced run's per-layer metrics (sums over the traced pass, and
    the tracing overhead against the untraced passes) and its artifact:
    per-model layer values, the ten slowest models with their build /
    eager-job / action split, the self-time identity check, and the
    spans."""
    units = metric_units()
    by_model: dict[int, list] = {}
    for s in tracer.spans:
        by_model.setdefault(s.model, []).append(s)
    traced = next(p for p in passes if p["traced"])
    per_model = {rec["name"]: model_metrics(rec, by_model.get(rec["model_id"], []))
                 for rec in traced["models"]}
    counters = traced["counters"]
    plain = [sum(m["wall_s"] for m in p["models"]) for p in passes if not p["traced"]]
    derived = {
        "txnlog.commit_conflicts": counters["commit_conflicts"],
        "plans.mv_rewrite.hit_ratio": (counters["try_rewrite_hits"] / counters["try_rewrite_calls"]
                                       if counters["try_rewrite_calls"] else 0.0),
        "trace.overhead_frac": (sum(m["wall_s"] for m in traced["models"])
                                / statistics.fmean(plain) - 1.0),
    }
    metrics = {k: (derived[k] if k in derived else sum(m[k] for m in per_model.values()), u)
               for k, u in units.items()}

    walls = {name: m["query.build_s"] + m["query.action_s"] for name, m in per_model.items()}
    record = {
        "slowest": [{
            "model": name, "wall_s": walls[name],
            "driver_s": per_model[name]["driver.self_s"],
            "eager_job_s": per_model[name]["eager_job_s"],
            "action_s": per_model[name]["query.action_s"],
            "build_jobs": per_model[name]["query.build_jobs"],
            "class": classify(per_model[name]),
        } for name in sorted(walls, key=walls.get, reverse=True)[:10]],
        "per_model": per_model,
        "identity_max_residual_s": max(abs(m["identity_residual_s"]) for m in per_model.values()),
        "spans": [(s.sid, s.parent, s.model, s.layer, s.name, s.t0, s.t1, s.tid, s.py4j)
                  for s in tracer.spans],
    }
    return metrics, record
