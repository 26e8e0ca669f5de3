"""observe()-based inline quality metrics + SQL UDF surface."""

import time

from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark.operators.observability import (
    observe_quality,
    observe_quality_stream,
)
from social_media_ai_engineering_etl_spark.sources.pydatasource import (
    register_synthetic_source,
)


def test_batch_observation_is_exact_and_free(spark, sf_dir):
    """Observed metrics equal a dedicated aggregate over the same
    input — but ride the main action instead of a second scan."""
    import os
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out, obs = observe_quality(docs, ["n_chars", "lang"])
    n = out.count()  # the action that also computes the metrics
    m = obs.get
    truth = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("lang")).alias("lang_nulls"),
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"),
    ).collect()[0]
    assert m["n_rows"] == n == truth["n"]
    assert m["lang__nulls"] == truth["lang_nulls"]
    assert m["n_chars__min"] == truth["lo"]
    assert m["n_chars__max"] == truth["hi"]


def test_streaming_observed_metrics_per_microbatch(spark, tmp_path):
    """Named observation on a stream: every micro-batch's progress
    carries the metric row; batch totals sum to the full input."""
    register_synthetic_source(spark)
    sdf = (spark.readStream.format("synthetic_events")
           .option("rowsPerBatch", 2500).option("maxRows", 5000).load())
    observed = observe_quality_stream(sdf, ["value"], name="ingest_quality")
    q = (observed.writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "obs-ckpt")).start())
    try:
        deadline = time.time() + 120
        rows = 0
        while time.time() < deadline:
            q.processAllAvailable()
            rows = sum(int(p["observedMetrics"]["ingest_quality"]["n_rows"])
                       for p in q.recentProgress
                       if p.get("observedMetrics", {}).get("ingest_quality"))
            if rows >= 5000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows == 5000
    batches = [p["observedMetrics"]["ingest_quality"]
               for p in q.recentProgress
               if p.get("observedMetrics", {}).get("ingest_quality")]
    assert all(b["value__nulls"] == 0 for b in batches)
    assert all(0 <= b["value__min"] <= b["value__max"] < 500 for b in batches)


def test_sql_udf_matches_native_expression(spark, sf_dir):
    """CREATE FUNCTION (SQL UDF, Spark 4 surface): the flagship P1
    engagement formula as a catalog function equals the native column
    expression row-for-row — SQL users get the exact semantics the
    DataFrame pipeline computes, still fully Catalyst-optimizable
    (a SQL UDF inlines into the plan; no python worker)."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION eng_ratio(
            qty BIGINT, items BIGINT, bal DOUBLE) RETURNS DOUBLE
        RETURN CASE WHEN bal <= 0 THEN 0.0
                    ELSE least(0.05,
                               (greatest(qty, 0) + greatest(items, 0)) / bal)
               END""")
    import os
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    per = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").cast("long").alias("qty"),
                F.count(F.lit(1)).alias("items"))
           .join(orders, F.col("l_orderkey") == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey))
    via_udf = per.selectExpr(
        "o_orderkey", "eng_ratio(qty, items, c_acctbal) AS r")
    from social_media_ai_engineering_etl_spark.plans.tiering import (
        order_engagement)
    native = order_engagement(li, orders, cust).select(
        "o_orderkey", F.col("engagement_ratio").alias("r"))
    assert via_udf.exceptAll(native).isEmpty()
    assert native.exceptAll(via_udf).isEmpty()
