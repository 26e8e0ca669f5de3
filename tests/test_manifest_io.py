"""Lineage/memoization + connector tests, mirroring the reference's
infrastructure tests (tests/test_manifest_skip_version.py:6-29,
tests/test_run_id_and_discovery.py:8-31) plus JSONL error tolerance
and nested-posts unnesting."""

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from social_media_ai_engineering_etl_spark.plans import manifest as mf
from social_media_ai_engineering_etl_spark.sources import io as sio


def _write_input(tmp_path, rows):
    p = str(tmp_path / "input.jsonl")
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return p


POST_SCHEMA = StructType([StructField("id", LongType()),
                          StructField("post_text", StringType())])


def test_stage_memoization_skips_unchanged(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": i, "post_text": f"t{i}"}
                                  for i in range(10)])
    man = mf.Manifest(str(tmp_path / "run"))
    calls = []

    def stage(sp, inp):
        calls.append(1)
        return sio.read_jsonl(sp, inp, POST_SCHEMA).withColumn(
            "n", F.length("post_text"))

    a = mf.run_stage(spark, man, "01-stage", [src], {"k": 1}, stage)
    b = mf.run_stage(spark, man, "01-stage", [src], {"k": 1}, stage)
    assert len(calls) == 1                       # second run skipped
    assert a.count() == b.count() == 10

    # config change invalidates
    mf.run_stage(spark, man, "01-stage", [src], {"k": 2}, stage)
    assert len(calls) == 2

    # input content change invalidates
    _write_input(tmp_path, [{"id": i, "post_text": f"u{i}"}
                            for i in range(10)])
    mf.run_stage(spark, man, "01-stage", [src], {"k": 2}, stage)
    assert len(calls) == 3


def test_stage_version_bump_invalidates(spark, tmp_path, monkeypatch):
    src = _write_input(tmp_path, [{"id": 1, "post_text": "x"}])
    man = mf.Manifest(str(tmp_path / "run"))
    calls = []

    def stage(sp, inp):
        calls.append(1)
        return sio.read_jsonl(sp, inp, POST_SCHEMA)

    mf.run_stage(spark, man, "s", [src], {}, stage)
    monkeypatch.setattr(mf, "STAGE_VERSION", "2")
    mf.run_stage(spark, man, "s", [src], {}, stage)
    assert len(calls) == 2


def test_validation_gates_manifest_commit(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": 1, "post_text": ""}])
    man = mf.Manifest(str(tmp_path / "run"))

    def stage(sp, inp):
        return sio.read_jsonl(sp, inp, POST_SCHEMA)

    def validate(df):
        if df.filter(F.col("post_text") == "").count() > 0:
            raise ValueError("empty post_text")

    try:
        mf.run_stage(spark, man, "s", [src], {}, stage, validate=validate)
        raise AssertionError("expected validation failure")
    except ValueError:
        pass
    assert "s" not in man.doc["stages"]           # no commit


def test_input_discovery_fallback(spark, tmp_path):
    src = _write_input(tmp_path, [{"id": 1, "post_text": "x"}])
    man = mf.Manifest(str(tmp_path / "run"))
    mf.run_stage(spark, man, "11-extract-opinion", [src], {},
                 lambda sp, i: sio.read_jsonl(sp, i, POST_SCHEMA))
    # 17 prefers 15-clean-context -> 12-clean-opinions -> 11-...
    got = man.discover_input(["15-clean-context", "12-clean-opinions",
                              "11-extract-opinion"])
    assert got == man.stage_output("11-extract-opinion")
    assert man.discover_input(["nope"]) is None


def test_jsonl_error_tolerance(spark, tmp_path):
    p = str(tmp_path / "bad.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "post_text": "ok"}\n')
        f.write('not json at all\n')
        f.write('{"id": 2, "post_text": "also ok"}\n')
        f.write('{"id": 3, "post_text": truncated\n')
    good = sio.read_jsonl(spark, p, POST_SCHEMA)
    assert {r.id for r in good.collect()} == {1, 2}
    quarantined = sio.read_jsonl(spark, p, POST_SCHEMA, keep_corrupt=True)
    assert quarantined.filter(F.col(sio.CORRUPT_COL).isNotNull()).count() == 2


def test_nested_posts_unnest(spark, tmp_path):
    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as f:
        f.write(json.dumps({"id": 1, "post_text": "flat"}) + "\n")
        f.write(json.dumps({"posts": [{"id": 2, "post_text": "n1"},
                                      {"id": 3, "post_text": "n2"}]}) + "\n")
    schema = StructType(list(POST_SCHEMA.fields)
                        + [StructField("posts", ArrayType(POST_SCHEMA))])
    df = sio.read_jsonl(spark, p, schema)
    out = sio.normalize_posts(df)
    assert sorted(r.id for r in out.collect()) == [1, 2, 3]


def test_contract_sidecar(spark, tmp_path):
    out = str(tmp_path / "artifact")
    df = spark.range(5).withColumnRenamed("id", "n")
    df.write.parquet(out)
    path = mf.write_contract(out, "v1", 5)
    with open(path) as f:
        doc = json.load(f)
    assert doc["schema_version"] == "v1"
    assert doc["counts"]["rows"] == 5
    assert len(doc["signature"]) == 64
    # signature is stable for identical bytes
    assert json.load(open(mf.write_contract(out, "v1", 5)))["signature"] \
        == doc["signature"]


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """Partition pruning proof: a lang-filtered read of the
    partitionBy(lang) layout shows the filter in PartitionFilters and
    scans only the matching directory's rows."""
    import os

    from pyspark.sql import functions as F

    from social_media_ai_engineering_etl_spark.sources.io import (
        write_partitioned_parquet)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = str(tmp_path / "by_lang")
    write_partitioned_parquet(docs, out, ("lang",))

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang predicate must land in PartitionFilters (directory
    # pruning), not as a post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "lang" in pf and "en" in pf, pf
    expected = docs.filter(F.col("lang") == "en").count()
    assert back.count() == expected


def test_cli_list_and_run(tmp_path):
    """The __main__ CLI lists queries, writes a sink artifact, and
    rejects unknown queries with exit code 2."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "list"], capture_output=True, text=True, timeout=120)
    assert r.returncode == 0
    assert "q01_tier_counts\toracle" in r.stdout

    out = str(tmp_path / "cli_out.parquet")
    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "run", "q01_tier_counts", "--sf-dir", "/root/testdata/sf0.001",
         "--out", out], capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT * FROM '{out}/*.parquet' ORDER BY tier").fetchall()
    assert [t for t, _ in rows] == ["Tier A (Top 20%)",
                                    "Tier B (Middle 40%)"]

    r = subprocess.run(
        [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
         "run", "no_such_query"], capture_output=True, text=True,
        timeout=120)
    assert r.returncode == 2


def test_staged_e2e_pipeline_memoizes(spark, sf_dir, tmp_path):
    """run_e2e materializes 4 stage snapshots + contract; a second
    invocation with unchanged inputs skips every stage."""
    import os

    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path / "run")
    first = run_e2e(spark, sf_dir, run_dir)
    assert [e["stage"] for e in first] == [
        "01-posts", "22-pairs", "23-split", "24-negatives"]
    assert all(not e["skipped"] for e in first)
    assert all(e["rows"] > 0 for e in first)
    assert os.path.exists(os.path.join(run_dir,
                                       "24-negatives.contract.json"))
    # DPO rows carry a non-empty rejected distinct from chosen
    negs = spark.read.parquet(os.path.join(run_dir, "24-negatives"))
    assert negs.filter((negs.rejected == "")
                       | negs.rejected.isNull()).count() == 0
    assert negs.filter(negs.rejected == negs.chosen).count() == 0

    second = run_e2e(spark, sf_dir, run_dir)
    assert all(e["skipped"] for e in second)
    assert [e["rows"] for e in second] == [e["rows"] for e in first]


def test_staged_e2e_pipeline_config_invalidates(spark, sf_dir, tmp_path):
    """Changing the config re-runs the stages (signature covers
    inputs + config + stage version), without touching the snapshots'
    row counts."""
    from social_media_ai_engineering_etl_spark.plans.pipeline import run_e2e

    run_dir = str(tmp_path / "run")
    first = run_e2e(spark, sf_dir, run_dir, config={"v": 1})
    again = run_e2e(spark, sf_dir, run_dir, config={"v": 1})
    assert all(e["skipped"] for e in again)
    changed = run_e2e(spark, sf_dir, run_dir, config={"v": 2})
    assert all(not e["skipped"] for e in changed)
    assert [e["rows"] for e in changed] == [e["rows"] for e in first]


def test_e2e_written_artifacts_oracle_checked(tmp_path):
    """Round-2 artifact gate: drive the staged pipeline through the
    REAL CLI twice, then check the WRITTEN files (not in-memory
    frames) with DuckDB — cross-stage invariants recomputed from the
    parquet on disk, per-stage S9 contract sidecars whose sha256
    matches an independent re-hash, the terminal CSV+parquet mirror
    agreeing with each other, and byte-stable artifacts across the
    memoized second run."""
    import json
    import subprocess
    import sys

    import duckdb

    from social_media_ai_engineering_etl_spark.plans.manifest import (
        artifact_hasher)

    run_dir = str(tmp_path / "run")
    cmd = [sys.executable, "-m", "social_media_ai_engineering_etl_spark",
           "pipeline", "--sf-dir", "/root/testdata/sf0.001",
           "--run-dir", run_dir]
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert r1.stdout.count("[ran]") == 4, r1.stdout

    con = duckdb.connect()
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731

    # cross-stage invariants recomputed from the files themselves
    n_posts = q(f"SELECT count(*) FROM '{run_dir}/01-posts/*.parquet'")
    n_pairs = q(f"SELECT count(*) FROM '{run_dir}/22-pairs/*.parquet'")
    n_split = q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet'")
    n_dpo = q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet' "
              "WHERE split = 'dpo'")
    n_neg = q(f"SELECT count(*) FROM '{run_dir}/24-negatives/*.parquet'")
    assert n_posts > 0 and n_posts <= n_pairs <= 5 * n_posts
    assert n_split == n_pairs
    assert n_neg == n_dpo > 0
    assert q(f"SELECT count(*) FROM '{run_dir}/23-split/*.parquet' "
             "WHERE split NOT IN ('sft','dpo') OR split IS NULL "
             "OR prompt IS NULL OR trim(prompt) = ''") == 0
    assert q(f"SELECT count(*) FROM '{run_dir}/24-negatives/*.parquet' "
             "WHERE rejected IS NULL OR rejected = '' "
             "OR rejected = chosen") == 0

    # terminal CSV and its parquet mirror agree (S5/S6)
    n_csv = q(f"SELECT count(*) FROM read_csv_auto("
              f"'{run_dir}/training-mix.csv/*.csv', header=true)")
    n_mirror = q("SELECT count(*) FROM "
                 f"'{run_dir}/training-mix.csv.parquet/*.parquet'")
    assert n_csv == n_mirror == n_neg

    # per-stage S9 sidecars: recorded sha256 == independent re-hash
    sigs = {}
    for stage in ("01-posts", "22-pairs", "23-split", "24-negatives"):
        with open(f"{run_dir}/{stage}.contract.json") as f:
            contract = json.load(f)
        rehash = artifact_hasher([f"{run_dir}/{stage}"]).hexdigest()
        assert contract["signature"] == rehash, stage
        sigs[stage] = rehash
    assert len(set(sigs.values())) == 4  # distinct artifacts

    # memoized second run: every stage skips, artifacts byte-stable
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert r2.stdout.count("skipped (memoized)") == 4, r2.stdout
    for stage, old in sigs.items():
        assert artifact_hasher([f"{run_dir}/{stage}"]).hexdigest() == old


def test_grpo_loader_discovery_filter_template(spark, tmp_path):
    """S7 (training/grpo/data.py:20-57): manifest discovery picks the
    recorded 24-negatives output over the fallback; null prompt/chosen
    rows drop; prompts get the add-generation-prompt chat template
    (user turn closed, assistant header open, no assistant content);
    the 80/20 split partitions the filtered rows exactly."""
    from social_media_ai_engineering_etl_spark.plans.manifest import Manifest
    from social_media_ai_engineering_etl_spark.sources.io import (
        load_grpo_training_set)

    run_dir = str(tmp_path / "run")
    out = spark.createDataFrame(
        [("write a post", "the post"), (None, "orphan"),
         ("second", None)] + [(f"p{i}", f"c{i}") for i in range(20)],
        "prompt string, chosen string")
    m = Manifest(run_dir)
    stage_out = m.stage_output("24-negatives")
    out.write.mode("overwrite").parquet(stage_out)
    m.update_stage("24-negatives", "sig", ["x"], 23)

    # decoy fallback CSV that must NOT be read when discovery succeeds
    fallback = str(tmp_path / "fallback.csv")
    spark.createDataFrame([("FB", "FB")], "prompt string, chosen string"
                          ).write.option("header", "true").csv(fallback)

    train, test = load_grpo_training_set(spark, fallback, run_dir=run_dir)
    rows = train.collect() + test.collect()
    assert len(rows) == 21          # 23 minus the two null rows
    assert all(r.prompt.startswith(
        "<|start_header_id|>user<|end_header_id|>\n\n") for r in rows)
    assert all(r.prompt.endswith(
        "<|eot_id|><|start_header_id|>assistant<|end_header_id|>\n\n")
        for r in rows)
    assert not any("FB" in r.prompt for r in rows)
    assert {r.answer for r in rows} >= {"the post"}

    # fallback path: no manifest -> the CSV is the source
    train2, test2 = load_grpo_training_set(spark, fallback)
    rows2 = train2.collect() + test2.collect()
    assert len(rows2) == 1 and rows2[0].answer == "FB"


def test_orc_roundtrip_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/scan: exact roundtrip and filter pushdown reaching the
    ORC reader (same contract the parquet path asserts)."""
    import os
    from social_media_ai_engineering_etl_spark.sources.io import (
        read_orc, write_orc)
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "lang", "n_chars")
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out)
    back = read_orc(spark, out)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, docs.collect()))
    plan = back.filter(F.col("lang") == "en") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan \
        or "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, plan


def test_xml_roundtrip_nested_and_explicit_schema(spark, sf_dir, tmp_path):
    """XML sink/source (built-in since Spark 4): exact roundtrip of a
    frame with a nested struct; the explicit-schema read path (the
    production contract — no double-scan inference) agrees with the
    inferred one."""
    import os

    from social_media_ai_engineering_etl_spark.sources.io import (
        read_xml, write_xml)
    docs = (spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "lang",
                F.struct(F.col("n_chars").alias("chars"),
                         F.col("source").alias("src")).alias("meta"))
        .limit(50))
    out = str(tmp_path / "docs_xml")
    write_xml(docs, out, row_tag="doc", root_tag="docs")
    inferred = read_xml(spark, out, row_tag="doc")
    flat = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["lang"], r["meta"]["chars"], r["meta"]["src"])
        for r in df.collect())
    assert flat(inferred) == flat(docs)
    explicit = read_xml(spark, out, row_tag="doc", schema=docs.schema)
    assert flat(explicit) == flat(docs)
    # the XML reader marks all fields nullable; names/types must match
    assert [(f.name, f.dataType) for f in explicit.schema.fields] == \
        [(f.name, f.dataType) for f in docs.schema.fields]
