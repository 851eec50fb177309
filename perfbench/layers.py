"""Per-layer metrics derived from the traced run's spans.

Every workload reports every name in :data:`PER_LAYER`; a layer the
workload does not exercise reads 0 (the versioned metrics on
``query-mix``, for instance).  "Per pass" values are means over the
steady passes, so runs with a different number of passes stay
comparable.
"""

from __future__ import annotations

import numpy as np

from spans import wall

_FAM = ("val", "rel", "ds", "txt")
_VCALLS = ("merge", "merge_mor", "delete_cow", "delete_mor", "update",
           "read_latest", "read_as_of", "lookup", "read_changes",
           "stats_aggregate", "history")
# the query-mix queries that exercise the schema and functions layers:
# ValidationSchema.validate, text.fingerprint, dedup.minhash_dedup_pairs,
# text.quality_score and a scoped_persist'd TF-IDF
_STAGES = {
    "schema.validate": ("val_json_int_range",),
    "functions.exact_dedup": ("ds_dedup_exact",),
    "functions.minhash": ("ds_minhash_lsh",),
    "functions.quality": ("txt_quality",),
    "functions.tfidf": ("txt_tfidf_topterms",),
}

# name -> unit
PER_LAYER: dict[str, str] = {
    "tables.session_s": "s", "tables.warmup_s": "s", "tables.open_s": "s",
    "plans.build_cold_s": "s", "plans.build_steady_s": "s",
    **{f"plans.build_cold_s.{f}": "s" for f in _FAM},
    **{f"plans.build_steady_s.{f}": "s" for f in _FAM},
    "plans.build_jobs": "count",
    **{f"catalyst.{p}_s.{ph}": "s"
       for ph in ("cold", "steady")
       for p in ("analysis", "optimization", "planning")},
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.shuffle_mb": "MB", "exec.result_rows": "count",
    "exec.core_util": "ratio", "exec.driver_gap_s": "s",
    "exec.pass_drift": "ratio",
    "cache.persisted_rdds": "count", "cache.storage_mb": "MB",
    "jvm.gc_s": "s", "jvm.heap_used_mb": "MB",
    "schema.validate_s": "s", "schema.rejected_rows": "count",
    "schema.validate_jobs": "count",
    **{f"functions.{s}_{u}": unit
       for s in ("exact_dedup", "minhash", "quality", "tfidf")
       for u, unit in (("s", "s"), ("jobs", "count"))},
    **{f"versioned.{c}_s": "s" for c in _VCALLS},
    "versioned.jobs_per_commit": "count",
    "versioned.files_added_per_commit": "count",
    "versioned.mb_written_per_commit": "MB",
    "versioned.manifest_kb": "KB",
    "versioned.driver_s_per_commit": "s",
    "versioned.lookup_files_ratio": "ratio",
    "trace.overhead_pct": "%",
}


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def derive(tracer, res, setup: dict, cores: int) -> dict[str, float]:
    m = {k: 0.0 for k in PER_LAYER}
    for k in ("session", "warmup", "open"):
        m[f"tables.{k}_s"] = float(np.median(setup[k]))
    spans = tracer.spans
    n = max(1, sum(ph == "steady" for ph, _, _ in res.passes))

    def under(phase: str):
        return [s for s in spans if s.get("phase") == phase
                and s["name"] != "pass"]

    steady, cold = under("steady"), under("cold")

    # plans: Python plan build around REGISTRY[name].fn
    for ph, ss in (("cold", cold), ("steady", steady)):
        builds = [s for s in ss if s["name"] == "plans.build"]
        div = 1 if ph == "cold" else n
        m[f"plans.build_{ph}_s"] = sum(map(wall, builds)) / div
        for f in _FAM:
            m[f"plans.build_{ph}_s.{f}"] = sum(
                wall(s) for s in builds if s["family"] == f) / div
        for p in ("analysis", "optimization", "planning"):
            m[f"catalyst.{p}_s.{ph}"] = sum(
                s[p] for s in ss if s["name"] == "catalyst.plan") / div
    m["plans.build_jobs"] = sum(len(s["job_ids"]) for s in steady
                                if s["name"] == "plans.build") / n

    # exec: every job-carrying call of the steady passes but the build
    work = [s for s in steady if "job_ids" in s and s["name"] != "plans.build"]
    ex_wall = sum(map(wall, work))
    m["exec.wall_s"] = ex_wall / n
    m["exec.jobs"] = sum(len(s["job_ids"]) for s in work) / n
    for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_mb"):
        m[f"exec.{k}"] = sum(s[k] for s in work) / n
    m["exec.result_rows"] = sum(s.get("rows", 0) for s in work) / n
    m["exec.core_util"] = (sum(s["task_run_s"] for s in work)
                           / (ex_wall * cores)) if ex_wall else 0.0
    m["exec.driver_gap_s"] = sum(s["driver_gap_s"] for s in work) / n
    walls = [w for ph, w, _ in res.passes if ph == "steady"]
    m["exec.pass_drift"] = walls[-1] / walls[0] if len(walls) > 1 else 1.0

    # cache and jvm, sampled after each pass
    smp = res.samples
    if smp:
        for k in ("cache.persisted_rdds", "cache.storage_mb",
                  "jvm.heap_used_mb"):
            m[k] = smp[k][-1]
        gc = smp["jvm.gc_s"]
        m["jvm.gc_s"] = (gc[-1] - gc[0]) / max(1, len(gc) - 1)

    # schema and functions: build + plan + run of the queries above
    for st, queries in _STAGES.items():
        ss = [s for s in steady if s.get("query") in queries]
        m[f"{st}_s"] = sum(map(wall, ss)) / n
        m[f"{st}_jobs"] = sum(len(s.get("job_ids", ())) for s in ss) / n
    m["schema.rejected_rows"] = _mean(
        [s["rejected_rows"] for s in steady if "rejected_rows" in s])

    # versioned: one span per public call
    for c in _VCALLS:
        names = ({"versioned.lookup_hit", "versioned.lookup_miss"}
                 if c == "lookup" else {f"versioned.{c}"})
        m[f"versioned.{c}_s"] = _mean(
            [wall(s) for s in steady if s["name"] in names])
    commits = [s for s in steady if s.get("cls") == "write"]
    if commits:
        m["versioned.jobs_per_commit"] = _mean(
            [len(s["job_ids"]) for s in commits])
        for k, src in (("files_added_per_commit", "files_added"),
                       ("mb_written_per_commit", "mb_written"),
                       ("manifest_kb", "manifest_kb"),
                       ("driver_s_per_commit", "driver_gap_s")):
            m[f"versioned.{k}"] = _mean([s[src] for s in commits])
    looks = [s for s in steady if "snapshot_files" in s]
    m["versioned.lookup_files_ratio"] = _mean(
        [s["input_files"] / s["snapshot_files"] for s in looks
         if s["snapshot_files"]])

    # tracing overhead: the tracer's own bookkeeping against the run's
    # traced wall (compare steady_pass_s with an untraced run for the
    # perturbation it causes)
    pass_wall = sum(w for _, w, _ in res.passes)
    m["trace.overhead_pct"] = 100 * tracer.self_s / pass_wall if pass_wall \
        else 0.0
    return m
