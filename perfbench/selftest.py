"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [gen|plan|gate ...]

* ``gen``: the input generator is a pure function of its seed: the
  same seed gives byte-identical parquet, another seed differs, and
  the row counts are the stated input sizes.
* ``plan``: the plan walk descends into cached subtrees. The profile
  of ``qx_dedup_winnow_fast`` holds the ArrowEvalPython node of its
  persisted fingerprint pass, and that of ``qx_dedup_minhash`` holds
  its persisted banded relation; neither is visible without the
  descent.
* ``gate``: the correctness gate fails closed. A wrong checksum and a
  raising query each count as failed and make ``run.py`` exit non-zero
  without claiming correctness.

Exit status 0 when every selected test passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_gen(work: str) -> None:
    def make(name, fn, *a):
        d = os.path.join(work, name)
        os.makedirs(d)
        return fn(d, *a), _digests(d)

    for fn, args in ((gen.corpus_tables, (run.CORPUS_DOCS, run.CORPUS_VECS)),
                     (gen.star_tables, (run.ANALYTICS_SF,))):
        rows_a, a = make(f"{fn.__name__}-a", fn, 7, *args)
        rows_b, b = make(f"{fn.__name__}-b", fn, 7, *args)
        _, c = make(f"{fn.__name__}-c", fn, 8, *args)
        assert a == b, f"{fn.__name__}: same seed, different bytes"
        assert all(a[f] != c[f] for f in a
                   if f not in ("region.parquet", "nation.parquet")), \
            f"{fn.__name__}: another seed gave identical tables"
        import pyarrow.parquet as pq
        for t, n in rows_a.items():
            got = pq.ParquetFile(
                os.path.join(work, f"{fn.__name__}-a", f"{t}.parquet")
            ).metadata.num_rows
            assert got == n, f"{t}: {got} rows, stated {n}"
    rows = run.make_inputs("dedup_retrieval", 3, os.path.join(work, "dd"))
    assert rows == {"documents": run.CORPUS_DOCS,
                    "embeddings": run.CORPUS_VECS}, rows
    rows = run.make_inputs("analytics_mix", 3, os.path.join(work, "am"))
    assert rows["pipeline.documents"] == run.PIPELINE_DOCS, rows
    assert rows["lineitem"] == int(6_000_000 * run.ANALYTICS_SF), rows


def test_plan(work: str) -> None:
    import tracing
    data = os.path.join(work, "data")
    run.make_inputs("dedup_retrieval", 1, data)
    sys.path.insert(0, ROOT)
    import social_media_ai_engineering_etl_spark.queries  # noqa: F401
    from social_media_ai_engineering_etl_spark.registry import QUERIES
    from social_media_ai_engineering_etl_spark.session import cache_scope
    spark = run.start_spark()
    try:
        reader = tracing.SparkReader(spark)
        found = {}
        for name in ("qx_dedup_winnow_fast", "qx_dedup_minhash"):
            with cache_scope(spark):
                agg = run.checksum(QUERIES[name](spark, data))
                agg.collect()
                found[name] = reader.plan_nodes(agg)
    finally:
        run.stop_spark(spark)
    winnow = found["qx_dedup_winnow_fast"]
    cached_udf = [n for n in winnow
                  if n[0] in tracing.UDF_NODES and n[2] > 0]
    assert any(n[0] == "ArrowEvalPythonExec" for n in cached_udf), \
        "winnow: no ArrowEvalPython node under its cached subtree"
    assert not any(n[0] == "ArrowEvalPythonExec" and n[2] == 0
                   for n in winnow), \
        "winnow: the ArrowEvalPython node is visible without the descent"
    assert tracing.plan_profile(winnow)["udf.rows"] > 0, \
        "winnow: the cached UDF node reports no rows"
    minhash = found["qx_dedup_minhash"]
    scans = [n for n in minhash if n[0] == "InMemoryTableScanExec"]
    cached = [n for n in minhash if n[2] > 0]
    assert scans, "minhash: no in-memory scan of the persisted relation"
    assert any(n[0] == "WindowExec" for n in cached), \
        "minhash: the banded relation's Window is missing from the profile"
    assert not any(n[0] == "WindowExec" for n in minhash if n[2] == 0), \
        "minhash: the banded Window is visible without the descent"


def _run(*args: str) -> tuple[int, dict | None, dict | None]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-2])["report"], \
            json.loads(lines[-1])
    except (IndexError, ValueError, KeyError):
        return p.returncode, None, None


def test_gate(work: str) -> None:
    base = ("--workload", "analytics_mix", "--seed", "1", "--seconds", "1",
            "--trace", "0")
    ops = run.WORKLOADS["analytics_mix"]["queries"]
    # a wrong checksum of a query, and a raising staged pipeline
    for fault in (f"checksum:{ops[0]}", "raise:run_e2e"):
        assert fault.split(":")[1] in ops, fault
        rc, report, final = _run(*base, "--inject", fault)
        assert rc != 0, f"{fault}: exit status 0"
        assert final is not None and final["correct"] is False, fault
        assert final["failed"] >= 1, fault
        assert report["metrics"]["failed_frac"]["value"] > 0, fault
        # every other operation still passed its check
        assert final["failed"] == len(report["checks_failed"]), fault


TESTS = {"gen": test_gen, "plan": test_plan, "gate": test_gate}


def main(argv: list[str]) -> int:
    names = argv or list(TESTS)
    failed = 0
    for name in names:
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        work = tempfile.mkdtemp(prefix=f"selftest-{name}-",
                                dir=os.path.join(ROOT, ".bench_work"))
        try:
            run.prepare_env(os.path.join(work, "env"))
            TESTS[name](work)
            print(f"ok   {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {name}: {e}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
