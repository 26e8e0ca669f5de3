"""Establish the recorded expected results in ``expected.json``.

    python3 perfbench/record.py

For ``analytics_mix``, whose inputs are fixed, every query is run once
on the generated tables and compared with its DuckDB oracle (the
registry's ``ORACLES`` SQL over the same parquet files) by the engine's
exact order-insensitive value hash. A query whose oracle matches is
recorded with its checksum and ``"established": "duckdb_oracle"``. An
operation without an oracle (the staged pipeline), or whose oracle does
not finish within ``--oracle-timeout`` seconds, is recorded only if two
executions in two fresh sessions agree (``"determinism_double_run"``).
A mismatch is never recorded, so the benchmark fails closed on it.

``dedup_retrieval`` gets a new corpus for every seed, so ``run.py``
establishes its expected results inside each run: every later
execution must reproduce the first one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def oracle_hash(data: str, sql: str, timeout: float) -> str | None:
    """Exact value hash of the oracle result, or None on timeout."""
    import duckdb

    from social_media_ai_engineering_etl_spark.verify import exact_value_hash
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return exact_value_hash(con.execute(sql).df())
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def session_results(data: str, names: list[str], with_frames: bool):
    """{name: (checksum result, exact value hash or None)} from one
    fresh Spark session."""
    from social_media_ai_engineering_etl_spark.registry import QUERIES
    from social_media_ai_engineering_etl_spark.session import cache_scope
    from social_media_ai_engineering_etl_spark.verify import exact_value_hash
    spark = run.start_spark()
    out = {}
    try:
        for name in names:
            if name == "run_e2e":
                res = run.pipeline_once(
                    spark, os.path.join(data, "pipeline"),
                    os.path.join(data, "..", "run"))["result"]
                out[name] = (res, None)
                continue
            with cache_scope(spark):
                df = QUERIES[name](spark, data)
                row = run.checksum(df).collect()[0]
                h = exact_value_hash(df.toPandas()) if with_frames else None
            out[name] = ([int(row["n"]), int(row["x"] or 0)], h)
    finally:
        run.stop_spark(spark)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle-timeout", type=float, default=120.0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".bench_work", f"record-{os.getpid()}")
    run.prepare_env(work)
    data = os.path.join(work, "data")
    sys.path.insert(0, ROOT)
    try:
        run.make_inputs("analytics_mix", 0, data)
        import social_media_ai_engineering_etl_spark.queries  # noqa: F401
        from social_media_ai_engineering_etl_spark.registry import ORACLES
        names = run.WORKLOADS["analytics_mix"]["queries"]
        first = session_results(data, names, with_frames=True)
        second = None
        fixed = {}
        for name in names:
            result, spark_hash = first[name]
            sql = ORACLES.get(name)
            want = oracle_hash(data, sql, args.oracle_timeout) if sql else None
            if want is not None:
                if want != spark_hash:
                    print(f"# {name}: oracle MISMATCH, not recorded",
                          file=sys.stderr)
                    continue
                how = "duckdb_oracle"
            else:
                if second is None:
                    second = session_results(data, names, with_frames=False)
                if second[name][0] != result:
                    print(f"# {name}: not deterministic, not recorded",
                          file=sys.stderr)
                    continue
                how = "determinism_double_run"
            fixed[name] = {"result": result, "established": how}
            print(f"# {name}: {result} ({how})", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        rec = json.load(fh)
    rec["analytics_mix"] = {
        "data_seed": run.ANALYTICS_DATA_SEED, "sf": run.ANALYTICS_SF,
        "fixed": fixed}
    rec["dedup_retrieval"] = {
        "established": "in_run_double_run: the first execution of every "
                       "operation in a run is the reference for the rest"}
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0 if len(fixed) == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
