"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics_mix --seed 1 \
        --seconds 8 --trace 0

Run it from the root of a checkout of the engine. It generates the
workload's inputs from the seed under ``.bench_work/``, starts the
engine's Spark session (``local[<usable cores>]``), runs one cold pass
and one untimed warm-up pass, then measured passes until ``--seconds``
have passed, checks every output against its expected result, and
prints one JSON object as the last line of standard output. A line
before it carries every end-to-end metric of the workload with its
unit, sample counts and input sizes.

``--trace 1`` runs the same loop with the engine's layers wrapped (see
``tracing.py``), alternating untraced and traced warm passes; the last
line then carries the per-layer metrics and the spans are written to
``.bench_out/``. Exit status is 0 only when every output was checked
and correct.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "social_media_ai_engineering_etl_spark"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procstat  # noqa: E402

# Fixed scale and seed of the analytics tables: the expected results
# in expected.json were established on exactly these inputs.
ANALYTICS_DATA_SEED = 20240101
ANALYTICS_SF = 0.01
PIPELINE_DOCS = 2000
CORPUS_DOCS = 2000
CORPUS_VECS = 1000

# Operations per workload: BENCH queries by name, and ``run_e2e``, the
# staged pipeline into a fresh run dir followed by its memoized re-run.
# README.md records why the other BENCH queries are left out.
WORKLOADS = {
    "analytics_mix": {
        "reads": ["region", "nation", "customer", "orders", "lineitem",
                  "events", "documents", "pipeline.documents"],
        "queries": [
            "q01_tier_counts", "q26_rewards_scalar", "qg_engagement_by_geo",
            "qs_session_windows", "qx_decontamination", "run_e2e",
        ],
    },
    "dedup_retrieval": {
        "reads": ["documents", "embeddings"],
        "queries": [
            "qx_dedup_ngram_jaccard", "qx_dedup_minhash",
            "qx_similarity_topk_gemm",
        ],
    },
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # fault injection for the self-test of the correctness gate
    ap.add_argument("--inject", default="",
                    help="'raise:<query>' or 'checksum:<query>'")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def make_inputs(workload: str, seed: int, data: str) -> dict[str, int]:
    os.makedirs(data, exist_ok=True)
    if workload == "analytics_mix":
        rows = gen.star_tables(data, ANALYTICS_DATA_SEED, ANALYTICS_SF)
        rows.update(gen.corpus_tables(
            data, ANALYTICS_DATA_SEED, int(50_000 * ANALYTICS_SF),
            int(50_000 * ANALYTICS_SF)))
        pipe = os.path.join(data, "pipeline")
        os.makedirs(pipe)
        rows["pipeline.documents"] = gen.corpus_tables(
            pipe, ANALYTICS_DATA_SEED + 1, PIPELINE_DOCS, 10)["documents"]
        os.remove(os.path.join(pipe, "embeddings.parquet"))
        return rows
    return gen.corpus_tables(data, seed, CORPUS_DOCS, CORPUS_VECS)


def checksum(df):
    """Checksum action: (rows, bit_xor(xxhash64(all columns))). Hashing
    every column keeps Catalyst from pruning any output expression."""
    from pyspark.sql import functions as F
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h")
    return df.select(h).agg(F.count(F.lit(1)).alias("n"),
                            F.expr("bit_xor(__h)").alias("x"))


def csv_digest(csv_dir: str) -> str:
    """Order- and partitioning-independent digest of a Spark CSV
    directory: sha256 over the sorted data lines of every part file,
    header lines dropped."""
    lines: list[bytes] = []
    for f in sorted(os.listdir(csv_dir)):
        if f.startswith("part-"):
            with open(os.path.join(csv_dir, f), "rb") as fh:
                lines.extend(fh.read().splitlines()[1:])
    h = hashlib.sha256()
    for ln in sorted(lines):
        h.update(ln + b"\n")
    return h.hexdigest()


def percentile_tail(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    idx = n - 11                  # samples s[idx+1:] (ten of them) above
    return {"value": s[idx], "percentile": round(100.0 * (idx + 1) / n, 1),
            "samples": n}


def pipeline_once(spark, docs_dir: str, run_dir: str, span=None,
                  before_rerun=None) -> dict:
    """``run_e2e`` into a fresh run dir, then its memoized re-run. The
    result is the per-stage row counts plus the terminal CSV digest;
    the re-run must skip all four stages with the same counts."""
    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e
    span = span or _null_span
    t0 = time.perf_counter()
    with span("op", "bench", query="run_e2e"):
        report = run_e2e(spark, docs_dir, run_dir)
    wall = time.perf_counter() - t0
    if before_rerun:
        before_rerun()
    t1 = time.perf_counter()
    with span("op", "bench", query="rerun"):
        again = run_e2e(spark, docs_dir, run_dir)
    rerun_wall = time.perf_counter() - t1
    skipped = [r["skipped"] for r in again]
    if any(r["skipped"] for r in report) or not all(skipped):
        raise RuntimeError(f"memoization broken: {report} / {again}")
    if [r["rows"] for r in again] != [r["rows"] for r in report]:
        raise RuntimeError("re-run row counts differ")
    out = {"wall": wall, "rerun_wall": rerun_wall, "skipped": skipped,
           "bytes_written": dir_bytes(run_dir),
           "result": [[r["stage"], r["rows"]] for r in report]
           + [csv_digest(os.path.join(run_dir, "training-mix.csv"))]}
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


class Runner:
    def __init__(self, args, spark, data_dir: str, work: str, expected,
                 traced: bool):
        from social_media_ai_engineering_etl_spark.registry import QUERIES
        from social_media_ai_engineering_etl_spark.session import cache_scope
        self.args, self.spark, self.data = args, spark, data_dir
        self.work, self.expected, self.traced = work, expected, traced
        self.QUERIES, self.cache_scope = QUERIES, cache_scope
        self.results: list[dict] = []     # one per executed operation
        self.reference: dict[str, object] = {}
        self.n_exec = 0
        self.inject = tuple(args.inject.split(":", 1)) if args.inject else ()
        if traced:
            import tracing as tr
            self.tr = tr
            self.reader = tr.SparkReader(spark)

    # -- one operation -----------------------------------------------------
    def execute(self, name: str, pass_no: int, traced: bool) -> dict:
        self.n_exec += 1
        op = f"{name}#{self.n_exec}"
        rec = {"name": name, "pass": pass_no, "traced": traced, "op": op}
        tracer = self.tr.TRACER if traced else None
        if tracer:
            tracer.begin_op(self.spark, op)
        try:
            if name == "run_e2e":
                self._pipeline(rec, tracer)
            else:
                self._query(name, rec, tracer)
        except Exception as e:
            # a raising operation is a failure of the run, not of the
            # benchmark: record where it raised and go on
            where = traceback.extract_tb(e.__traceback__)[-1]
            rec["error"] = (f"{type(e).__name__}: {e} "
                            f"[{os.path.basename(where.filename)}:"
                            f"{where.lineno}]")[:400]
            rec.setdefault("wall", float("nan"))
        finally:
            if tracer:
                tracer.end_op()
        if traced and "error" not in rec:
            self._read_spark(rec)
        self.results.append(rec)
        return rec

    def _query(self, name: str, rec: dict, tracer) -> None:
        sc = self.spark.sparkContext
        before = set(sc._jsc.getPersistentRDDs().keys())
        span = tracer.span if tracer else _null_span
        t0 = time.perf_counter()
        with self.cache_scope(self.spark):
            with span("op", "bench", query=name):
                with span("build", "queries"):
                    if self.inject == ("raise", name):
                        raise RuntimeError("injected failure")
                    df = self.QUERIES[name](self.spark, self.data)
                    agg = checksum(df)
                with span("action", "exec"):
                    row = agg.collect()[0]
            rec["wall"] = time.perf_counter() - t0
            rec["result"] = [int(row["n"]), int(row["x"] or 0)]
            if self.inject == ("checksum", name):
                rec["result"][1] ^= 1
            if tracer:
                with span("profile", "trace"):
                    rec["phases"] = self.reader.phases(agg)
                    rec["plan"] = self.tr.plan_profile(
                        self.reader.plan_nodes(agg))
        if tracer:
            left = set(sc._jsc.getPersistentRDDs().keys()) - before
            rec["blocks_left"] = len(left)

    def _pipeline(self, rec: dict, tracer) -> None:
        if self.inject == ("raise", "run_e2e"):
            raise RuntimeError("injected failure")
        run_dir = os.path.join(self.work, "runs", rec["op"].replace("#", "-"))

        rec.update(pipeline_once(
            self.spark, os.path.join(self.data, "pipeline"), run_dir,
            tracer.span if tracer else _null_span,
            (lambda: tracer.set_group(rec["op"] + "~rerun")) if tracer
            else None))
        if self.inject == ("checksum", "run_e2e"):
            rec["result"][-1] = rec["result"][-1][::-1]

    def _read_spark(self, rec: dict) -> None:
        tracer = self.tr.TRACER
        with tracer.span("profile", "trace"):
            groups = [rec["op"]]
            if rec["name"] == "run_e2e":
                groups += [rec["op"] + "~rerun"]
                groups += [f"{g}/{s}" for g in groups
                           for s in self.tr.STAGES + ("mirror",)]
            rec["exec"] = self.reader.group_stages(groups)

    # -- the closed loop ---------------------------------------------------
    def one_pass(self, pass_no: int, rng, traced: bool) -> dict:
        order = list(WORKLOADS[self.args.workload]["queries"])
        rng.shuffle(order)
        cg0 = self.reader.codegen() if self.traced else None
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        recs = [self.execute(q, pass_no, traced) for q in order]
        p = {"pass": pass_no, "traced": traced,
             "wall": time.perf_counter() - t0,
             "cpu_s": procstat.tree_cpu_s() - cpu0,
             "ops": [r["op"] for r in recs]}
        if cg0:
            cg1 = self.reader.codegen()
            p["codegen"] = (cg1[0] - cg0[0], cg1[1] - cg0[1])
        return p

    def check(self) -> tuple[int, int, list[dict]]:
        """Compare every executed operation with its expected result.
        Returns (attempted, failed, per-operation check records)."""
        attempted = failed = 0
        checks = []
        for rec in self.results:
            attempted += 1
            exp = self.expected.get(rec["name"])
            how = exp["established"] if exp else "in_run_double_run"
            want = exp["result"] if exp else self.reference.setdefault(
                rec["name"], rec.get("result"))
            ok = ("error" not in rec and want is not None
                  and rec.get("result") == want)
            failed += not ok
            checks.append({"op": rec["op"], "ok": ok, "established": how,
                           **({"error": rec["error"]} if "error" in rec
                              else {})})
        # an unrecorded result checked only against itself proves nothing
        for name in self.reference:
            if sum(r["name"] == name for r in self.results) < 2:
                failed += 1
                checks.append({"op": name, "ok": False,
                               "error": "single execution, nothing to "
                                        "compare with"})
        return attempted, failed, checks


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _null_span(*args, **kwargs):
    return contextlib.nullcontext({})


def load_expected(workload: str) -> dict:
    """Recorded expected results of the workload's fixed inputs, keyed
    by operation name (empty for a seeded workload)."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh).get(workload, {}).get("fixed", {})


def start_spark():
    from social_media_ai_engineering_etl_spark.session import get_spark
    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it and for every
    process it started."""
    from py4j.protocol import Py4JError
    gw = spark.sparkContext._gateway
    proc = gw.proc
    procs = procstat.snapshot()
    spark.stop()
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass            # the JVM side may already be gone
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    procstat.wait_gone(procs, timeout=30)
    # the next get_spark in this process launches a new JVM
    from pyspark import SparkContext
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: the engine package {PKG}/ is not next to "
              f"{os.path.basename(HERE)}/; run from a checkout of the repo",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    data = os.path.join(work, "data")
    try:
        return _run(args, work, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, data: str) -> int:
    rows_in = make_inputs(args.workload, args.seed, data)
    sys.path.insert(0, ROOT)

    t_setup = time.perf_counter()
    wrapped = None
    if args.trace:
        import tracing as tr
        # engine modules (not queries) first, so their import cost is
        # timed apart from wrapper installation
        tr.import_surface()
        t_wrap = time.perf_counter()
        wrapped = tr.install()
        t_setup += time.perf_counter() - t_wrap
    import social_media_ai_engineering_etl_spark.queries  # noqa: F401
    if wrapped:
        tr.rebind(wrapped)
    import_s = time.perf_counter() - t_setup
    expected = load_expected(args.workload)
    t1 = time.perf_counter()
    spark = start_spark()
    get_spark_s = time.perf_counter() - t1
    setup_s = import_s + get_spark_s

    try:
        runner = Runner(args, spark, data, work, expected, bool(args.trace))
        rng = random.Random(args.seed)
        cold = runner.one_pass(0, rng, traced=False)
        # the first warm pass still runs 10-15% slower (JIT tiers, a few
        # compiles): it is checked but not timed, so the measured passes
        # are alike whether --seconds fits one or more of them
        warmup = runner.one_pass(1, rng, traced=False)
        passes = []
        # traced runs alternate untraced and traced warm passes, so the
        # tracing overhead is measured in one process, with an untraced
        # pass on either side of the first traced one
        min_passes = 3 if args.trace else 1
        t_meas = time.perf_counter()
        while (len(passes) < min_passes
               or time.perf_counter() - t_meas < args.seconds):
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(runner.one_pass(len(passes) + 2, rng, traced))
        jvm_rss = procstat.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)
    py_rss = procstat.peak_rss_mb(os.getpid())

    attempted, failed, checks = runner.check()
    checked = sum(c["ok"] for c in checks)
    correct = failed == 0 and checked > 0

    by_op = {r["op"]: r for r in runner.results}
    untraced = [p for p in passes if not p["traced"]]
    warm_ops = [by_op[o] for p in untraced for o in p["ops"]
                if "error" not in by_op[o]]
    in_rows = sum(rows_in[t] for t in WORKLOADS[args.workload]["reads"])
    pass_wall = statistics.median(p["wall"] for p in untraced)
    rows_per_s = in_rows / pass_wall
    # the gated metrics of BENCHMARK.json
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold["wall"], "s"),
        "rows_per_s": (rows_per_s, "rows/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), "s"),
    }
    report = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    tail = percentile_tail([r["wall"] for r in warm_ops])
    report["query_p50_s"] = {
        "value": statistics.median(r["wall"] for r in warm_ops)
        if warm_ops else None, "unit": "s", "samples": len(warm_ops)}
    report["query_tail_s"] = {"value": tail and tail["value"], "unit": "s",
                              "percentile": tail and tail["percentile"],
                              "samples": len(warm_ops)}
    runs = [r for r in warm_ops if r["name"] == "run_e2e"]
    if runs:
        docs_bytes = dir_bytes(os.path.join(data, "pipeline"))
        report["pipeline_run_s"] = {
            "value": statistics.median(r["wall"] for r in runs),
            "unit": "s", "samples": len(runs)}
        report["pipeline_rerun_s"] = {
            "value": statistics.median(r["rerun_wall"] for r in runs),
            "unit": "s", "samples": len(runs)}
        report["bytes_written_per_input_byte"] = {
            "value": statistics.median(r["bytes_written"] for r in runs)
            / docs_bytes, "unit": "ratio"}
    report["failed_frac"] = {"value": failed / max(attempted, 1),
                             "unit": "ratio"}
    info = {"workload": args.workload, "seed": args.seed,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "input_rows": {t: rows_in[t]
                           for t in WORKLOADS[args.workload]["reads"]},
            "warm_passes": len(untraced),
            "warmup_pass_s": warmup["wall"],
            "pass_wall_s": [p["wall"] for p in passes],
            "metrics": report, "checks_failed":
                [c for c in checks if not c["ok"]][:20],
            "checked": checked,
            "op_walls": {n: [r["wall"] for r in runner.results
                             if r["name"] == n]
                         for n in WORKLOADS[args.workload]["queries"]},
            "results": {r["name"]: r.get("result") for r in runner.results}}

    if args.trace:
        import layers
        metrics = layers.per_layer(runner, passes, cold, in_rows, {
            "session.import_s": import_s, "session.get_spark_s": get_spark_s,
            "session.jvm_peak_rss_mb": jvm_rss,
            "session.python_peak_rss_mb": py_rss})
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}")
        layers.write_trace(base, tr.TRACER, runner, metrics, info)
        info["trace_file"] = os.path.relpath(base + ".spans.jsonl", ROOT)
        final = {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}
    else:
        final = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"report": info}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": final}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
