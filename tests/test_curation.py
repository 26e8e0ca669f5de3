"""Corpus-curation operator tests: real-semantics fixtures the
synthetic corpus can't exercise (actual PII strings, crafted
repetition, planted contamination) plus packing/chunking invariants
and plan-shape regressions."""

import re

import pytest
from pyspark.sql import functions as F

from social_media_ai_engineering_etl_spark.operators import curation


def plan_of(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# PII scrubbing — the unit fixtures carry the real semantics (the
# driver corpus has no PII, its oracle pins the identity path)
# ---------------------------------------------------------------------------

PII_DOCS = [
    (1, "contact me at alice.smith+work@example.co.uk for details"),
    (2, "call +1 (555) 123-4567 or 555 867 5309 tomorrow"),
    (3, "server at 192.168.1.254 timed out"),
    (4, "ssn 123-45-6789 leaked"),
    (5, "nothing sensitive here at all"),
]


def test_pii_scrub_redacts_each_class(spark):
    df = spark.createDataFrame(PII_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curation.pii_scrub(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 1
    assert "alice" not in out[1]["redacted"]
    assert "[EMAIL]" in out[1]["redacted"]
    assert out[2]["n_phone"] == 2
    assert "4567" not in out[2]["redacted"]
    assert out[3]["n_ipv4"] == 1
    assert "[IPV4]" in out[3]["redacted"]
    assert out[4]["n_ssn"] == 1
    assert "[SSN]" in out[4]["redacted"]
    assert out[5]["redacted"] == PII_DOCS[4][1]  # untouched
    assert all(out[5][f"n_{c}"] == 0
               for c in ("email", "phone", "ipv4", "ssn"))


def test_pii_email_wins_over_phone_digits(spark):
    # digits inside an email must be consumed by the email rule, not
    # half-eaten by the phone rule
    df = spark.createDataFrame([(1, "mail 12345678901@example.com now")],
                               "doc_id long, text string")
    r = curation.pii_scrub(df, "doc_id", "text").collect()[0]
    assert r["n_email"] == 1
    assert r["redacted"] == "mail [EMAIL] now"


# ---------------------------------------------------------------------------
# Gopher quality gate
# ---------------------------------------------------------------------------

def test_gopher_quality_rules(spark):
    long_ok = "the quick brown fox jumps over lazy dogs " * 4  # 32 words
    short = "too short"
    no_stop = "lorem ipsum dolor sit amet " * 6
    top_heavy = "the " * 39 + "end"
    df = spark.createDataFrame(
        [(1, long_ok), (2, short), (3, no_stop), (4, top_heavy)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curation.gopher_quality(df, "doc_id", "text").collect()}
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0          # < 20 words
    assert out[3]["stopword_hits"] == 0
    assert out[3]["keep"] == 0          # no stopwords
    assert out[4]["top_token_count"] == 39
    assert out[4]["keep"] == 0          # top-token fraction > 1/5
    assert out[1]["n_words"] == 32
    assert out[1]["sum_word_chars"] == sum(
        len(w) for w in long_ok.split())


# ---------------------------------------------------------------------------
# repetition profile
# ---------------------------------------------------------------------------

def test_repetition_profile_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"),        # heavy dup unigrams + 2-grams
         (2, "one two three four")],  # all distinct
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curation.repetition_profile(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_distinct_words"]) == (6, 2)
    assert (r1["n_2grams"], r1["n_distinct_2grams"]) == (5, 2)
    assert (r1["n_3grams"], r1["n_distinct_3grams"]) == (4, 2)
    assert r1["repetitive"] == 1
    r2 = out[2]
    assert r2["n_distinct_words"] == r2["n_words"] == 4
    assert r2["repetitive"] == 0


def test_repetition_profile_is_shuffle_free(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    df = curation.repetition_profile(
        _docs_narrow(spark, sf_dir), "doc_id", "text")
    assert "Exchange" not in plan_of(df)


def test_gopher_quality_is_shuffle_free(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    df = curation.gopher_quality(
        _docs_narrow(spark, sf_dir), "doc_id", "text")
    assert "Exchange" not in plan_of(df)


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def test_decontaminate_finds_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "x alpha beta gamma delta epsilon zeta y"),  # shares 2 5-grams
         (2, "totally unrelated words only here now")],
        "doc_id long, text string")
    rows = curation.decontaminate(corpus, bench, "doc_id", "text",
                                  n=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1
    assert r["n_shared_grams"] == 2  # the two interior 5-grams
    assert r["n_bench_docs_hit"] == 1


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    docs = _docs_narrow(spark, sf_dir)
    df = curation.decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0), "doc_id", "text", n=5)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# mixture
# ---------------------------------------------------------------------------

def test_mixture_downsample_hits_uniform_counts(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    docs = _docs_narrow(spark, sf_dir)
    mins = docs.groupBy("lang").count().agg(F.min("count")).collect()[0][0]
    kept = curation.mixture_downsample(docs, "lang", "doc_id")
    counts = {r["lang"]: r["count"]
              for r in kept.groupBy("lang").count().collect()}
    assert all(v == mins for v in counts.values())
    # deterministic: same selection both runs
    again = curation.mixture_downsample(docs, "lang", "doc_id")
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) \
        == sorted(r["doc_id"] for r in again.select("doc_id").collect())


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------

def test_chunk_tokens_boundaries(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(40))),  # 40 toks: 2 chunks
         (2, " ".join(f"w{i}" for i in range(32))),  # exactly one window
         (3, "a b c")],                              # shorter than window
        "doc_id long, text string")
    out = curation.chunk_tokens(df, "doc_id", "text",
                                window=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["start_tok"], r["n_tokens"]) for r in c1] == [(0, 32), (24, 16)]
    assert (c1[0]["first_token"], c1[0]["last_token"]) == ("w0", "w31")
    assert (c1[1]["first_token"], c1[1]["last_token"]) == ("w24", "w39")
    assert [(r["start_tok"], r["n_tokens"]) for r in by_doc[2]] \
        == [(0, 32), (24, 8)]  # stride 24 < 32 tokens -> tail overlap chunk
    assert [(r["start_tok"], r["n_tokens"], r["first_token"],
             r["last_token"]) for r in by_doc[3]] == [(0, 3, "a", "c")]


def test_chunk_tokens_is_shuffle_free(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    df = curation.chunk_tokens(_docs_narrow(spark, sf_dir),
                               "doc_id", "text")
    assert "Exchange" not in plan_of(df)


# ---------------------------------------------------------------------------
# packing
# ---------------------------------------------------------------------------

def _brute_next_fit(toks, budget):
    bins, fill = [], budget + 1
    for t in toks:
        if fill + t <= budget:
            bins[-1].append(t)
            fill += t
        else:
            bins.append([t])
            fill = t
    return bins


@pytest.mark.parametrize("budget", [64, 512])
def test_pack_sequences_matches_brute_force(spark, budget):
    toks = [30, 40, 10, 64, 65, 1, 1, 1, 63, 2]
    rows = [(i, "g", " ".join("w" * 1 for _ in range(t)))
            for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = curation.pack_sequences(
        df, ["grp"], "doc_id",
        F.size(curation.words(F.col("text"))), budget=budget
    ).orderBy("bin_id").collect()
    want = _brute_next_fit(toks, budget)
    assert [(r["n_docs"], r["sum_tokens"]) for r in out] \
        == [(len(b), sum(b)) for b in want]


def test_pack_sequences_conservation_and_budget(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import (
        qx_pack_sequences)
    out = qx_pack_sequences(spark, sf_dir).collect()
    assert all(r["sum_tokens"] <= 512 for r in out)  # no doc exceeds budget
    from social_media_ai_engineering_etl_spark.queries.curation import _docs_narrow
    total = (_docs_narrow(spark, sf_dir)
             .select(F.size(curation.words(F.col("text"))).alias("n"))
             .agg(F.sum("n")).collect()[0][0])
    assert sum(r["sum_tokens"] for r in out) == total
    assert len({(r["lang"], r["shard"], r["bin_id"]) for r in out}) == len(out)


# ---------------------------------------------------------------------------
# Python UDTF surface (SURVEY §2.13) — SQL twins of native operators
# ---------------------------------------------------------------------------

def test_pack_udtf_matches_grouped_map_path(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.queries.curation import (
        qx_pack_sequences, qx_pack_udtf)
    per_doc = qx_pack_udtf(spark, sf_dir)
    rolled = (per_doc.groupBy("lang", "shard", "bin_id")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("tok").alias("sum_tokens")))
    got = sorted(map(tuple, rolled.collect()))
    want = sorted(map(tuple, qx_pack_sequences(spark, sf_dir).collect()))
    assert got == want


def test_scd2_udtf_matches_window_path(spark, sf_dir):
    from social_media_ai_engineering_etl_spark.operators.udtfs import (
        Scd2IntervalsUDTF)
    from social_media_ai_engineering_etl_spark.queries.warehouse_patterns import (
        qx_scd2_intervals)
    spark.udtf.register("scd2_intervals", Scd2IntervalsUDTF)
    import os
    (spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
     .select("user_id", "ts", "event_id",
             F.from_json("props", "k BIGINT").getField("k").alias("k"))
     .createOrReplaceTempView("__scd2_input"))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    got = sorted(map(tuple, spark.sql("""
        SELECT * FROM scd2_intervals(
            TABLE(__scd2_input)
            PARTITION BY user_id ORDER BY (ts, event_id))
    """).select("user_id", "k",
                F.date_format("valid_from", fmt).alias("valid_from"),
                F.date_format("valid_to", fmt).alias("valid_to"),
                "is_current").collect()))
    want = sorted(map(tuple, qx_scd2_intervals(spark, sf_dir).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# substring duplication profile
# ---------------------------------------------------------------------------

def test_substring_dup_profile_planted_span(spark):
    shared = " ".join(f"s{i}" for i in range(12))  # 12 shared tokens
    docs = [
        (1, "a b c " + shared + " x y z"),
        (2, "p q " + shared + " r"),
        (3, " ".join(f"u{i}" for i in range(15))),  # unique
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           curation.substring_dup_profile(df, "doc_id", "text",
                                          k=10).collect()}
    # a 12-token shared span yields 3 shared 10-gram positions in a row
    assert out[1]["max_dup_run"] == 3
    assert out[2]["max_dup_run"] == 3
    assert out[1]["n_dup_grams"] == 3
    assert out[3]["n_dup_grams"] == 0 and out[3]["max_dup_run"] == 0
    # longest shared substring length = max_dup_run + k - 1 = 12
    assert out[1]["max_dup_run"] + 10 - 1 == 12
    # doc lengths: 18 -> 9 grams; 15 -> 6 grams; 15 -> 6 grams
    assert out[1]["n_grams"] == 9
    assert out[2]["n_grams"] == 6


def test_scd2_udtf_null_transitions_match_sql_semantics(spark):
    """r2 ADVICE: the UDTF must replay the native twin's
    ``prev_k IS NULL OR k <> prev_k`` three-valued-logic filter on a
    fixture that actually contains NULL ks (the parquet fixture never
    has them): NULL-first, A->NULL->A, A->NULL->B, trailing NULL."""
    import datetime

    from pyspark.sql import Window

    from social_media_ai_engineering_etl_spark.operators.udtfs import (
        Scd2IntervalsUDTF)

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    seqs = {1: [None, 7, 7, None, 7], 2: [1, None, 2, 2],
            3: [5, None, None, 5], 4: [None], 5: [3, 3, None]}
    for uid, ks in seqs.items():
        for i, k in enumerate(ks):
            rows.append((uid, t0 + datetime.timedelta(minutes=i), i, k))
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, k bigint")
    df.createOrReplaceTempView("__scd2_nulls")

    def key(t):
        return tuple((v is None, v) for v in t)

    spark.udtf.register("scd2_intervals_nulls", Scd2IntervalsUDTF)
    got = sorted(map(tuple, spark.sql("""
        SELECT * FROM scd2_intervals_nulls(
            TABLE(__scd2_nulls)
            PARTITION BY user_id ORDER BY (ts, event_id))
    """).collect()), key=key)

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (df.withColumn("prev_k", F.lag("k").over(w))
               .filter(F.col("prev_k").isNull()
                       | (F.col("k") != F.col("prev_k"))))
    want = sorted(map(tuple, changes.select(
        "user_id", "k", F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"))
        .withColumn("is_current",
                    F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .collect()), key=key)
    assert got == want



def test_lm_familiarity_separates_natural_from_garbled(spark):
    """The familiarity score must rank repeated natural phrasing above
    unique garbled strings (the property that makes it a quality
    gate), and every score must be >= 1 (every bigram occurs at least
    once — its own occurrence)."""
    from social_media_ai_engineering_etl_spark.operators import textquality
    common = "the quick brown fox jumps over the lazy dog"
    rows = [(i, common) for i in range(10)]
    rows.append((100, "zxqj vvkw pplm qqrs ttuu wwxx yyzz aabb ccdd eeff"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.familiarity
           for r in textquality.lm_familiarity(df, "doc_id", "text")
           .collect()}
    assert all(v >= 1.0 for v in out.values())
    assert out[0] > out[100] + 1.0   # natural >> garbled


def test_lm_familiarity_cms_bounded_above_exact(spark, sf_dir):
    """CMS counters only over-count, so the sketch-modeled familiarity
    must sit at or above the exact score per doc, within the sketch
    error (generous +0.5 bits on this corpus)."""
    from social_media_ai_engineering_etl_spark.queries.dedup_similarity import (
        qx_lm_familiarity, qx_lm_familiarity_cms)
    exact = {r.id: r.familiarity
             for r in qx_lm_familiarity(spark, sf_dir).collect()}
    approx = {r.id: r.familiarity
              for r in qx_lm_familiarity_cms(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for i, e in exact.items():
        assert approx[i] >= e - 1e-9, (i, e, approx[i])
        assert approx[i] <= e + 0.5, (i, e, approx[i])


# ---------------------------------------------------------------------------
# bloom-filtered decontamination
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fp_bound(spark):
    from social_media_ai_engineering_etl_spark.operators.curation import (
        bloom_bitmap, bloom_might_contain)
    member = spark.range(2000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("v"))
    other = spark.range(20000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("v"))
    m_bits, k = 1 << 15, 5  # ~16.4 bits/key -> fp ~ 0.5%
    bm = bloom_bitmap(member, "v", m_bits, k)
    probe = bloom_might_contain("v", bm, m_bits, k)
    assert member.filter(~probe).count() == 0  # never drops a member
    fp = other.filter(probe).count()
    assert fp / 20000 < 0.03, fp


def test_decontaminate_bloom_equals_exact(spark):
    from social_media_ai_engineering_etl_spark.operators.curation import (
        decontaminate, decontaminate_bloom)
    import numpy as np
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(300)]
    docs = [(i, " ".join(rng.choice(vocab, 40))) for i in range(120)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench = df.filter(F.col("doc_id") % 10 == 0)
    corp = df.filter(F.col("doc_id") % 10 != 0)
    exact = decontaminate(corp, bench, "doc_id", "text", n=3) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    bloom = decontaminate_bloom(corp, bench, "doc_id", "text", n=3) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(exact, bloom)


def test_mixture_temperature_flattens_shares(spark):
    """sqrt-temperature rebalancing sits between natural and uniform:
    small domains gain share, large domains lose, nobody upsamples."""
    rows = [(i, "big") for i in range(900)] + \
           [(i + 1000, "mid") for i in range(100)] + \
           [(i + 2000, "small") for i in range(25)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    plan = (curation.mixture_temperature(df, "lang", "doc_id")
            .toPandas().set_index("domain"))
    total = plan["n_docs"].sum()
    for d in plan.index:
        nat_ppm = plan.loc[d, "n_docs"] * 1_000_000 // total
        assert plan.loc[d, "n_kept"] == plan.loc[d, "n_keep"]
        assert plan.loc[d, "n_keep"] <= plan.loc[d, "n_docs"]
        if d == "small":
            assert plan.loc[d, "target_ppm"] > nat_ppm
        if d == "big":
            assert plan.loc[d, "target_ppm"] < nat_ppm
    # kept corpus respects the target mixture within integer rounding
    kept_total = plan["n_kept"].sum()
    for d in plan.index:
        kept_ppm = plan.loc[d, "n_kept"] * 1_000_000 / kept_total
        assert abs(kept_ppm - plan.loc[d, "target_ppm"]) < 25_000, d


def test_encoding_anomalies_detect_planted_mojibake(spark, duck):
    """Planted U+FFFD / control chars must be counted identically by
    the Spark query and the oracle pattern (guards the regex-dialect
    seam: hex escapes mean different things to RE2 and Java)."""
    import pandas as pd
    rows = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["clean text", "bad �� decode", "ctl \x07 here"],
        "lang": ["en"] * 3, "source": ["s1", "s1", "s2"],
        "n_chars": [10, 16, 10]})
    sdf = spark.createDataFrame(rows)
    from pyspark.sql import functions as F
    rep = F.size(F.expr("regexp_extract_all(text, '\\uFFFD', 0)"))
    ctl = F.size(F.expr(
        r"regexp_extract_all(text, "
        r"'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', 0)"))
    sp = (sdf.groupBy("source")
          .agg(F.sum(rep).alias("r"), F.sum(ctl).alias("c"))
          .toPandas().set_index("source"))
    assert sp.loc["s1", "r"] == 2 and sp.loc["s1", "c"] == 0
    assert sp.loc["s2", "r"] == 0 and sp.loc["s2", "c"] == 1
    duck.register("documents_tmp2", rows)
    dd = duck.execute("""
        SELECT source,
               sum(len(regexp_extract_all(text, '�'))) AS r,
               sum(len(regexp_extract_all(text,
                   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]'))) AS c
        FROM documents_tmp2 GROUP BY source ORDER BY source
    """).fetchdf().set_index("source")
    assert int(dd.loc["s1", "r"]) == 2 and int(dd.loc["s2", "c"]) == 1


def test_quality_classifier_gate_matches_python_reference(spark):
    """The hashed-linear gate equals a pure-python transcription
    (md5-prefix bucket, Knuth-mix milli-weights, logit > 0) and the
    model table rides a broadcast join, not a shuffle."""
    import hashlib

    from social_media_ai_engineering_etl_spark.operators.textquality import (
        linear_quality_score)

    texts = ["the quick brown fox", "lorem ipsum dolor sit amet",
             "one", "  spaced   out   tokens  "]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {r["id"]: r for r in
           linear_quality_score(df, "doc_id", "text", 4096).collect()}

    def ref(text):
        toks = [t for t in text.strip().lower().split() if t]
        logit = 0
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 4096
            logit += (b * 2654435761) % 2001 - 1000
        return len(toks), logit, int(logit > 0)

    for i, t in enumerate(texts):
        n, logit, kept = ref(t)
        r = got[i]
        assert (r["n_tokens"], r["logit_milli"], r["kept"]) \
            == (n, logit, kept), t

    plan = (linear_quality_score(df, "doc_id", "text", 4096)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
