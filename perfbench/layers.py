"""Per-layer metrics of a traced run, and the trace files it writes.

Every per-layer metric is a total over the traced warm passes divided
by their number ("per warm pass"), unless its name says it is a ratio,
a peak or a cold-pass figure. Every metric is present for every
workload; a layer the workload does not reach reads 0.
"""

from __future__ import annotations

import json
import statistics

from tracing import STAGES

LAYERS = ("bench", "queries", "functions", "operators", "session", "exec",
          "plans", "sources", "trace")
EXEC_KEYS = ("jobs", "stages", "tasks", "wait_s", "task_s", "task_cpu_s",
             "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "input_rows", "input_bytes", "failed_tasks",
             "job_wall_s")
PLAN_KEYS = ("udf.rows", "udf.bytes_sent", "udf.bytes_received",
             "udf.time_ms", "plan.broadcast_bytes", "plan.broadcast_build_ms",
             "plan.cached_scan_rows")


def _op_of(spans: list[dict]) -> dict[int, str]:
    """Span id -> query name of the enclosing ``op`` span."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and cur["name"] != "op":
            cur = by_id.get(cur["parent"])
        out[s["id"]] = cur["attrs"].get("query") if cur else None
    return out


def per_layer(runner, passes, cold, in_rows: int, extra: dict) -> dict:
    """{metric: (value, unit)} for a traced run."""
    from tracing import TRACER
    spans = [s for s in TRACER.spans if "end" in s]
    self_t = TRACER.self_times()
    op_of = _op_of(spans)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    n = max(len(traced), 1)
    recs = [r for r in runner.results if r["traced"] and "error" not in r]
    m: dict[str, tuple[float, str]] = {}

    def put(name, total, unit, per_pass=True):
        m[name] = ((total / n) if per_pass else total, unit)

    def dur(s):
        return s["end"] - s["start"]

    for k in ("session.import_s", "session.get_spark_s"):
        put(k, extra[k], "s", False)
    for cache in ("scan_cache", "cached_exprs"):
        calls = [s for s in spans if s["name"] == f"session.{cache}"]
        hits = sum(bool(s["attrs"].get("hit")) for s in calls)
        put(f"session.{cache}.calls", len(calls), "count")
        put(f"session.{cache}.hit_ratio",
            hits / len(calls) if calls else 0.0, "ratio", False)
    put("session.cached_exprs.s", sum(dur(s) for s in spans
                                      if s["name"] == "session.cached_exprs"),
        "s")
    put("session.jvm_peak_rss_mb", extra["session.jvm_peak_rss_mb"], "MB",
        False)
    put("session.python_peak_rss_mb", extra["session.python_peak_rss_mb"],
        "MB", False)
    put("cache.blocks_left", sum(r.get("blocks_left", 0) for r in recs),
        "count", False)

    builds = [s for s in spans if s["name"] == "build"]
    put("queries.build_s", sum(dur(s) for s in builds), "s")
    put("queries.py4j_calls", sum(s["py4j"] for s in builds), "count")
    put("driver.py4j_calls", sum(s["py4j"] for s in spans
                                 if s["name"] == "op"), "count")
    for layer in LAYERS:
        put(f"{layer}.self_s", sum(self_t[s["id"]] for s in spans
                                   if s["layer"] == layer), "s")

    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_ms",
            sum(r.get("phases", {}).get(ph, 0.0) for r in recs), "ms")
    warm_cg = [p["codegen"] for p in passes if "codegen" in p]
    put("codegen.cold_compiles", cold["codegen"][0], "count", False)
    put("codegen.cold_compile_ms", cold["codegen"][1], "ms", False)
    put("codegen.compiles", statistics.median(c[0] for c in warm_cg)
        if warm_cg else 0, "count", False)
    put("codegen.compile_ms", statistics.median(c[1] for c in warm_cg)
        if warm_cg else 0, "ms", False)

    ex = {k: 0.0 for k in EXEC_KEYS}
    stage_jobs = {s: 0 for s in STAGES}
    rerun_jobs = 0
    for r in recs:
        for g, acc in r.get("exec", {}).items():
            for k in EXEC_KEYS:
                ex[k] += acc[k]
            base, _, stage = g.partition("/")
            if base.endswith("~rerun"):
                rerun_jobs += acc["jobs"]
            elif stage in stage_jobs:
                stage_jobs[stage] += acc["jobs"]
    put("exec.s", ex["job_wall_s"], "s")
    put("exec.action_s", sum(dur(s) for s in spans
                             if s["name"] == "action"), "s")
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        put(f"exec.{k}", ex[k], "count")
    put("exec.task_wait_s", ex["wait_s"], "s")
    for k in ("task_s", "task_cpu_s", "gc_s"):
        put(f"exec.{k}", ex[k], "s")
    put("exec.parallelism", ex["task_s"] / ex["job_wall_s"]
        if ex["job_wall_s"] else 0.0, "ratio", False)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes"):
        put(f"exec.{k}", ex[k], "bytes")
    put("exec.input_rows", ex["input_rows"], "rows")

    for k in PLAN_KEYS:
        unit = ("ms" if k.endswith("_ms") else "bytes"
                if "bytes" in k else "rows")
        put(k, sum(r.get("plan", {}).get(k, 0) for r in recs), unit)

    stage_spans = [s for s in spans if s["name"] == "plans.stage"
                   and op_of[s["id"]] == "run_e2e"]
    for st in STAGES:
        put(f"plans.stage_s.{st}", sum(dur(s) for s in stage_spans
                                       if s["attrs"].get("stage") == st), "s")
        put(f"plans.stage_jobs.{st}", stage_jobs[st], "count")
    put("plans.rerun_jobs", rerun_jobs, "count")
    hashes = [s for s in spans if s["name"] == "plans.manifest.hash"]
    put("plans.manifest.hash_s", sum(dur(s) for s in hashes), "s")
    put("plans.manifest.hashed_bytes",
        sum(s["attrs"].get("bytes", 0) for s in hashes), "bytes")
    skipped = [x for r in recs for x in r.get("skipped", [])]
    put("plans.skip_ratio", sum(skipped) / len(skipped) if skipped else 0.0,
        "ratio", False)
    put("plans.rerun_s", sum(r.get("rerun_wall", 0.0) for r in recs), "s")
    by_id = {s["id"]: s for s in spans}
    writes = [s for s in spans if s["name"] == "sources.write" and not (
        s["parent"] is not None
        and by_id[s["parent"]]["name"] == "sources.write")]
    put("sources.write_s", sum(dur(s) for s in writes), "s")
    put("sources.bytes_written", sum(r.get("bytes_written", 0)
                                     for r in recs), "bytes")

    rps_u = in_rows / statistics.median(p["wall"] for p in untraced)
    rps_t = in_rows / statistics.median(p["wall"] for p in traced)
    put("trace.rows_per_s_untraced", rps_u, "rows/s", False)
    put("trace.rows_per_s_traced", rps_t, "rows/s", False)
    put("trace.overhead", rps_u / rps_t - 1.0, "ratio", False)
    op_wall = sum(r["wall"] for r in recs)
    put("trace.op_wall_s", op_wall, "s")
    build_catalyst = m["queries.build_s"][0] * n + sum(
        sum(r.get("phases", {}).values()) for r in recs) / 1e3
    put("queries.build_catalyst_share", build_catalyst / op_wall
        if op_wall else 0.0, "ratio", False)
    return m


def write_trace(base: str, tracer, runner, metrics: dict, info: dict) -> None:
    """Spans (one JSON object per line) and a summary with every
    per-layer metric and every operation's readings."""
    with open(base + ".spans.jsonl", "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s, default=str) + "\n")
    with open(base + ".summary.json", "w") as fh:
        json.dump({"info": info,
                   "metrics": {k: {"value": v, "unit": u}
                               for k, (v, u) in metrics.items()},
                   "ops": runner.results}, fh, indent=1, default=str)
