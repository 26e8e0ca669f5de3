"""Instrumentation for traced benchmark runs.

Nothing here edits the engine. A traced run wraps the engine's public
functions from the outside and reads Spark's own status store, phase
tracker, codegen histogram and physical-plan metrics:

* ``install`` replaces every public function of the ``functions`` and
  ``operators`` packages, the scan/expression caches in ``session``,
  ``plans.manifest.run_stage``/``artifact_hasher``, the pipeline entry
  point and the ``sources`` writers with span-recording wrappers, and
  rebinds every module global that referred to an original, so
  ``from x import f`` call sites are traced too;
* every py4j command this process sends to the JVM is counted;
* ``SparkReader`` attributes stage metrics to one operation through its
  job group, reads Catalyst phase times of the checksum action, the
  codegen compile histogram, and walks the final adaptive plan,
  descending into the cached plan under every in-memory scan.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import os
import pkgutil
import re
import sys
import time

PKG = "social_media_ai_engineering_etl_spark"
TRACED_PACKAGES = ("functions", "operators")
# plans.pipeline.STAGES names, one job sub-group each
STAGES = ("01-posts", "22-pairs", "23-split", "24-negatives")


class Tracer:
    """In-memory span recorder. A span is (id, parent, op, name, layer,
    start, end, py4j commands sent inside it, attrs); spans of one
    operation share ``op``. Recording is off until ``enabled`` is set,
    so an untraced pass in the same process costs one flag test per
    wrapped call. ``begin_op`` also tags the operation's Spark jobs
    with a job group named after it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self.py4j = 0
        self.spark = None
        self.group: str | None = None

    def begin_op(self, spark, op: str) -> None:
        self.enabled, self.op, self.spark = True, op, spark
        self.set_group(op)

    def end_op(self) -> None:
        self.enabled = False
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def set_group(self, group: str) -> None:
        """Tag the following Spark jobs with ``group``; sub-groups
        (``<group>/<suffix>``) split one operation's jobs by stage."""
        self.group = group
        self.spark.sparkContext.setJobGroup(group, group)

    def sub_group(self, attrs: dict, suffix: str) -> dict:
        if self.enabled:
            g = f"{self.group}/{suffix}"
            self.spark.sparkContext.setJobGroup(g, g)
            attrs["group"] = g
        return attrs

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self.stack[-1]["id"] if self.stack else None
        rec = {"id": len(self.spans), "parent": parent, "op": self.op,
               "name": name, "layer": layer, "attrs": attrs,
               "start": time.perf_counter(), "py4j0": self.py4j}
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield attrs
        finally:
            self.stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j - rec.pop("py4j0")

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the interval its children cover
        (children of one span run one after another, never overlapping,
        on the single driver thread)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + \
                    s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans if "end" in s}


TRACER = Tracer()


def _wrap(fn, name: str, layer: str, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not TRACER.enabled:
            return fn(*args, **kwargs)
        attrs = before(*args, **kwargs) if before else {}
        with TRACER.span(name, layer, **attrs):
            return fn(*args, **kwargs)
    wrapper.__perfbench_original__ = fn
    return wrapper


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _import_all(package: str) -> list:
    pkg = importlib.import_module(package)
    mods = [pkg]
    for info in pkgutil.iter_modules(pkg.__path__):
        mods.append(importlib.import_module(f"{package}.{info.name}"))
    return mods


def _cache_hit(cache_attr: str, key_of):
    """``before`` hook: records whether the session cache already
    holds the key for the live gateway, i.e. whether the call hits."""
    def before(*args, **kwargs):
        session = sys.modules[f"{PKG}.session"]
        hit = getattr(session, cache_attr).get(key_of(*args, **kwargs))
        return {"hit": hit is not None}
    return before


def import_surface() -> None:
    """Import every engine module ``install`` wraps (not ``queries``)."""
    for sub in TRACED_PACKAGES:
        _import_all(f"{PKG}.{sub}")
    for mod in ("session", "plans.manifest", "plans.pipeline", "sources.io"):
        importlib.import_module(f"{PKG}.{mod}")


def install() -> dict:
    """Wrap the traced surface; returns {qualified name: wrapper}.
    Must run before ``queries`` is imported; the rebinding sweep
    catches modules imported earlier."""
    import py4j.java_gateway as jg
    from py4j import protocol as proto
    from pyspark.sql.readwriter import DataFrameWriter

    session = importlib.import_module(f"{PKG}.session")
    manifest = importlib.import_module(f"{PKG}.plans.manifest")
    pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
    io = importlib.import_module(f"{PKG}.sources.io")
    wrapped: dict[str, tuple] = {}

    def put(mod, attr, layer, before=None, name=None):
        orig = getattr(mod, attr)
        w = _wrap(orig, name or f"{layer}.{attr}", layer, before)
        setattr(mod, attr, w)
        wrapped[f"{mod.__name__}.{attr}"] = (orig, w)

    for sub in TRACED_PACKAGES:
        for mod in _import_all(f"{PKG}.{sub}"):
            for attr, val in list(vars(mod).items()):
                if (inspect.isfunction(val) and not attr.startswith("_")
                        and val.__module__ == mod.__name__):
                    put(mod, attr, sub, name=f"{sub}.{attr}")

    put(session, "read_parquet_cached", "session",
        _cache_hit("_SCAN_CACHE", lambda spark, path: path),
        name="session.scan_cache")
    put(session, "load_events_cached", "session",
        _cache_hit("_SCAN_CACHE", lambda spark, path: ("__events__", path)),
        name="session.scan_cache")
    put(session, "cached_exprs", "session",
        _cache_hit("_EXPR_CACHE", lambda key, builder: key),
        name="session.cached_exprs")
    put(manifest, "artifact_hasher", "plans",
        lambda paths: {"bytes": sum(_dir_bytes(p) for p in paths
                                    if os.path.exists(p))},
        name="plans.manifest.hash")
    put(manifest, "run_stage", "plans", _stage_begin,
        name="plans.stage")
    put(pipeline, "run_e2e", "plans", name="plans.run_e2e")
    put(io, "write_csv_with_parquet_mirror", "sources",
        lambda df, csv_path, *a, **k: TRACER.sub_group({"path": csv_path},
                                                       "mirror"),
        name="sources.write")

    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if not TRACER.enabled:
            return orig_parquet(self, path, *args, **kwargs)
        with TRACER.span("sources.write", "sources", path=path):
            return orig_parquet(self, path, *args, **kwargs)
    DataFrameWriter.parquet = parquet

    orig_send = jg.GatewayClient.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def send_command(self, command, *args, **kwargs):
        # proxy releases are sent whenever Python's GC runs: not counted
        if not command.startswith(release):
            TRACER.py4j += 1
        return orig_send(self, command, *args, **kwargs)
    jg.GatewayClient.send_command = send_command

    rebind(wrapped)
    return wrapped


def rebind(wrapped: dict) -> None:
    """Point every package-module global that still holds an original
    function at its wrapper."""
    by_id = {id(o): w for o, w in wrapped.values()}
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PKG) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            w = by_id.get(id(val))
            if w is not None and val is getattr(w, "__perfbench_original__"):
                setattr(mod, attr, w)


def _stage_begin(spark, manifest, stage, *args, **kwargs) -> dict:
    # the stage's group stays set until the next stage begins, so the
    # post-write count() and hashing in run_e2e count for this stage
    return TRACER.sub_group({"stage": stage}, stage)


# ---------------------------------------------------------------------------
# Spark-side readings
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "deser_s": ("executorDeserializeTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_rows": ("inputRecords", 1),
    "input_bytes": ("inputBytes", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}

UDF_NODES = ("ArrowEvalPythonExec", "BatchEvalPythonExec",
             "MapInArrowExec", "MapInPandasExec", "PythonMapInArrowExec",
             "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
             "FlatMapCoGroupsInPandasExec", "AggregateInPandasExec",
             "WindowInPandasExec", "ArrowWindowPythonExec",
             "ArrowAggregatePythonExec", "FlatMapGroupsInPandasWithStateExec",
             "BatchEvalPythonUDTFExec", "ArrowEvalPythonUDTFExec")

_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: [^,]*, "
                        r"value: (-?\d+)\)")


class SparkReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = self.jsc.statusStore()
        self._empty_q = self.sc._gateway.new_array(self.jvm.double, 0)
        self._hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, summed compile ms). The sum comes from the
        histogram's reservoir, exact while it holds every sample."""
        n = self._hist.getCount()
        vals = self.jvm.java.util.Arrays.toString(
            self._hist.getSnapshot().getValues())
        total = sum(int(v) for v in vals.strip("[]").split(",") if v.strip())
        return n, float(total)

    def group_stages(self, groups: list[str]) -> dict:
        """Summed stage metrics of the jobs tagged with each group: the
        group's job ids, their stage ids, and only stages that reached
        COMPLETE or FAILED (skipped stages reran nothing)."""
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {}
        for g in groups:
            acc = {k: 0.0 for k in STAGE_FIELDS}
            acc.update(jobs=0, stages=0, wait_s=0.0, job_wall_s=0.0)
            stage_ids = set()
            for j in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                acc["jobs"] += 1
                stage_ids.update(int(s) for s in info.stageIds)
                job = self.store.job(j)
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    acc["job_wall_s"] += (end.get().getTime()
                                          - sub.get().getTime()) / 1e3
            for sid in sorted(stage_ids):
                seq = self.store.stageData(sid, False, None, False,
                                           self._empty_q)
                for i in range(seq.size()):
                    st = seq.apply(i)
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    acc["stages"] += 1
                    for k, (field, scale) in STAGE_FIELDS.items():
                        acc[k] += getattr(st, field)() * scale
                    sub, first = st.submissionTime(), \
                        st.firstTaskLaunchedTime()
                    if sub.isDefined() and first.isDefined():
                        acc["wait_s"] += max(0, first.get().getTime()
                                             - sub.get().getTime()) / 1e3
            acc["wait_s"] += acc.pop("deser_s")
            acc["spill_bytes"] = acc.pop("memory_spill_bytes") + \
                acc.pop("disk_spill_bytes")
            out[g] = acc
        return out

    @staticmethod
    def phases(agg_df) -> dict:
        ph = agg_df._jdf.queryExecution().tracker().phases()
        out = {}
        for k in ("analysis", "optimization", "planning"):
            opt = ph.get(k)
            out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def plan_nodes(self, agg_df) -> list[tuple[str, dict, int]]:
        """(node class, metrics, depth of cached-plan nesting) for every
        node of the final adaptive plan, including the plans cached
        under InMemoryTableScanExec."""
        root = agg_df._jdf.queryExecution().executedPlan()
        out: list = []
        seen: set[int] = set()
        todo = [(root, 0)]
        while todo:
            node, cached = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append((node.executedPlan(), cached))
                continue
            if cls.endswith("QueryStageExec"):
                todo.append((node.plan(), cached))
                continue
            if cls == "ReusedExchangeExec":
                continue        # its metrics belong to the reused exchange
            metrics = {m.group(1): int(m.group(2)) for m in
                       _METRIC_RE.finditer(node.metrics().toString())}
            out.append((cls, metrics, cached))
            if cls == "InMemoryTableScanExec":
                # a relation scanned twice was built once: walk it once
                rel = node.relation().cachedPlan()
                key = self.jvm.System.identityHashCode(rel)
                if key not in seen:
                    seen.add(key)
                    todo.append((rel, cached + 1))
            kids = node.children()
            for i in range(kids.size()):
                todo.append((kids.apply(i), cached))
        return out


def plan_profile(nodes) -> dict:
    """Operator-level sums from ``SparkReader.plan_nodes``."""
    p = {"udf.rows": 0, "udf.bytes_sent": 0, "udf.bytes_received": 0,
         "udf.time_ms": 0, "plan.broadcast_bytes": 0,
         "plan.broadcast_build_ms": 0, "plan.cached_scan_rows": 0,
         "plan.nodes": 0, "plan.cached_nodes": 0}
    for cls, m, cached in nodes:
        p["plan.nodes"] += 1
        p["plan.cached_nodes"] += cached > 0
        if cls in UDF_NODES:
            p["udf.rows"] += m.get("pythonNumRowsReceived", 0)
            p["udf.bytes_sent"] += m.get("pythonDataSent", 0)
            p["udf.bytes_received"] += m.get("pythonDataReceived", 0)
            p["udf.time_ms"] += (m.get("pythonBootTime", 0)
                                 + m.get("pythonInitTime", 0)
                                 + m.get("pythonTotalTime", 0))
        elif cls == "BroadcastExchangeExec":
            p["plan.broadcast_bytes"] += m.get("dataSize", 0)
            p["plan.broadcast_build_ms"] += m.get("buildTime", 0)
        elif cls == "InMemoryTableScanExec":
            p["plan.cached_scan_rows"] += m.get("numOutputRows", 0)
    return p
