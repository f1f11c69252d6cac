"""Similarity search over embedding columns (array<float>).

Three strategies, one semantic (cosine top-k):

- ``brute_force_topk`` -- exact.  Query set broadcast, corpus scanned
  once, per-query heap via window row_number.  The 100 TB shape: the
  corpus stays partitioned, queries (small) move to the data.
- ``lsh_topk``          -- BucketedRandomProjectionLSH on normalized
  vectors: sublinear candidate generation, then exact re-rank.
- ``ivf_topk``          -- IVF-style: k-means coarse quantizer, probe
  the ``nprobe`` nearest centroids, exact search inside probed cells.

All distance math is JVM-side higher-order array functions -- no Python
boundary in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(col: Column) -> Column:
    return F.sqrt(F.aggregate(_d(col), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
    round_dp: int | None = None,
) -> DataFrame:
    """Exact cosine top-k for every query: broadcast the query set,
    one corpus scan, per-query top-k heap.

    Returns (query_id, vec_id, cosine, rank).  Cosine ties break on
    vec_id for determinism.  ``round_dp`` rounds the cosine BEFORE
    ranking (ties then break on id) -- the cross-engine-deterministic
    mode an oracle comparison needs, since last-ULP float noise could
    otherwise swap adjacent ranks between engines.
    """
    # norms precomputed once per side: cosine-per-pair would re-reduce
    # both vectors for every (corpus, query) combination -- 3x the
    # array work on the scan that dominates at scale
    q = F.broadcast(
        queries.select(query_id, query_vec).withColumn("__qn", l2_norm(F.col(query_vec)))
    )
    c = corpus.select(corpus_id, corpus_vec).withColumn("__cn", l2_norm(F.col(corpus_vec)))
    cos = dot(F.col(corpus_vec), F.col(query_vec)) / (F.col("__cn") * F.col("__qn"))
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    scored = c.crossJoin(q).select(query_id, corpus_id, cos.alias("cosine"))
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _normalize_to_vector(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    # norm as its own column FIRST: referencing the aggregate inside the
    # transform lambda would re-reduce the whole array for every element
    # (O(d^2) per row) -- Spark does no loop-invariant hoisting inside
    # higher-order-function lambdas
    withn = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("raw"),
        l2_norm(F.col(vec_col)).alias("__n"),
    ).filter(F.col("__n") > 0)
    return withn.select(
        "id",
        "raw",
        array_to_vector(
            F.transform(F.col("raw"), lambda x: x.cast("double") / F.col("__n"))
        ).alias("nvec"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
    num_hash_tables: int = 4,
    bucket_length: float = 1.0,
    max_euclid: float = 1.2,
) -> DataFrame:
    """Approximate cosine top-k via euclidean LSH on L2-normalized
    vectors (||a_hat-b_hat||^2 = 2 - 2cos), then exact re-rank of the
    candidates.  ``max_euclid=1.2`` admits candidates down to cosine
    ~0.28; tighten for higher-recall corpora."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    c = _normalize_to_vector(corpus, corpus_id, corpus_vec)
    q = _normalize_to_vector(queries, query_id, query_vec)
    lsh = BucketedRandomProjectionLSH(
        inputCol="nvec", outputCol="hashes", numHashTables=num_hash_tables,
        bucketLength=bucket_length, seed=42,
    )
    model = lsh.fit(c)
    cand = model.approxSimilarityJoin(c, q, max_euclid, distCol="euclid").select(
        F.col("datasetB.id").alias(query_id),
        F.col("datasetA.id").alias(corpus_id),
        (1 - F.col("euclid") * F.col("euclid") / 2).alias("cosine"),
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """(qid, qvec, cell, __qn) for each query's ``nprobe`` nearest
    centroids.  The centroid table is tiny -> broadcast; the per-query
    top-nprobe is a window over n_cells rows."""
    q = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec"))
    qc = q.crossJoin(F.broadcast(centroids)).select(
        "qid",
        "qvec",
        "cell",
        F.aggregate(
            F.zip_with(
                F.col("qvec"), F.col("cvec"), lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    wq = W.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    return (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qvec", "cell", l2_norm(F.col("qvec")).alias("__qn"))
    )


def ivf_build_index(
    corpus: DataFrame,
    index_path: str,
    n_cells: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 1,
) -> None:
    """Build phase of a persistent IVF index: fit the k-means coarse
    quantizer ONCE, then write

    - ``{index_path}/cells``      corpus rows + precomputed norms,
      parquet **partitioned by cell** -- so a search's cell filter
      becomes directory-level partition pruning, and
    - ``{index_path}/centroids``  the n_cells centroid vectors.

    Repeated searches (:func:`ivf_search`) read these and never refit;
    at 100 TB the index is built by a scheduled job and the KMeans fit
    itself runs on a sample, not per query batch.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(corpus_id).alias("id"),
        F.col(corpus_vec).alias("vec"),
        array_to_vector(_d(F.col(corpus_vec))).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell").fit(c)
    assigned = model.transform(c).select("id", "vec", "cell", l2_norm(F.col("vec")).alias("cn"))
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{index_path}/cells")
    centroids = c.sparkSession.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(model.clusterCenters())],
        "cell int, cvec array<double>",
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def ivf_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "qv",
) -> DataFrame:
    """Search phase over a persisted IVF index: NO KMeans fit -- read
    the centroid table (tiny), pick ``nprobe`` cells per query, scan
    only those cells.  The cells scan is partition-pruned: the
    broadcast join on the ``cell`` partition column lets Spark's
    dynamic partition pruning skip the other cell directories
    entirely, so search cost is ~(nprobe / n_cells) of the corpus."""
    centroids = spark.read.parquet(f"{index_path}/centroids")
    probes = _ivf_probes(queries, centroids, nprobe, query_id, query_vec)
    cells = spark.read.parquet(f"{index_path}/cells")
    scored = cells.join(F.broadcast(probes), "cell").select(
        F.col("qid").alias(query_id),
        F.col("id").alias("vec_id"),
        (dot(F.col("vec"), F.col("qvec")) / (F.col("cn") * F.col("__qn"))).alias("cosine"),
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
    seed: int = 1,
) -> DataFrame:
    """IVF-flat ANN: k-means coarse quantizer over the corpus, each
    query probes its ``nprobe`` nearest cells, exact cosine inside.

    The cell assignment is a one-off index build (like training an IVF
    index); the search joins query->probed cells (broadcast) and scans
    only matching partitions.  Recall grows with nprobe; nprobe=n_cells
    degenerates to brute force.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    c = corpus.select(
        F.col(corpus_id).alias("id"),
        F.col(corpus_vec).alias("vec"),
        array_to_vector(_d(F.col(corpus_vec))).alias("features"),
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell")
    model = km.fit(c)
    assigned = model.transform(c).select(
        "id", "vec", "cell", l2_norm(F.col("vec")).alias("__cn")
    )

    # centroid table (tiny) -> broadcast; each query scores all centroids
    # and keeps nprobe nearest (euclidean on raw vectors).
    centers = model.clusterCenters()
    centroids = c.sparkSession.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(centers)], "cell int, cvec array<double>"
    )
    probes = _ivf_probes(queries, centroids, nprobe, query_id, query_vec)

    scored = assigned.join(F.broadcast(probes), "cell").select(
        F.col("qid").alias(query_id),
        F.col("id").alias(corpus_id),
        (dot(F.col("vec"), F.col("qvec")) / (F.col("__cn") * F.col("__qn"))).alias("cosine"),
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-side of the FAISS-style ANN
# family (IVF covers the scan side).  Vectors compress to m sub-space
# code indices (here m*log2(ks) bits, e.g. 8 bytes for 64-dim float32
# -- a 32x memory cut); queries score candidates through per-query
# lookup tables (asymmetric distance computation) without ever
# touching a float vector, then an exact re-rank of the short-list
# restores precision at the top.
#
# Division of labor, deliberately: codebook TRAINING runs driver-side
# in numpy on a bounded sample (exactly how FAISS trains -- the
# codebook is O(m*ks*dsub) floats, the sample bounded; at 100 TB the
# build is a scheduled job, the sample still bounded); ENCODING and
# SCANNING are distributed pandas_udfs (Arrow-batched numpy -- the
# sanctioned Python path; argmin over ks centroids per sub-space is a
# dense matrix op that native array expressions would unroll into
# thousands of codegen terms).
# ---------------------------------------------------------------------------


def _train_pq_codebooks(vecs, m: int, ks: int, seed: int, iters: int = 15):
    """Lloyd's k-means per sub-space on a driver-side sample.
    Deterministic for a given (sample, seed).  Returns (m, ks, dsub)."""
    import numpy as np

    n, d = vecs.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ks, dsub), dtype=np.float64)
    for j in range(m):
        sub = vecs[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(n, size=min(ks, n), replace=False)].copy()
        if len(cents) < ks:  # degenerate tiny corpus: pad with jitter
            pad = cents[rng.integers(0, len(cents), ks - len(cents))]
            cents = np.vstack([cents, pad + rng.normal(0, 1e-6, pad.shape)])
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(0)
                else:  # re-seed empty cluster deterministically
                    cents[c] = sub[rng.integers(0, n)]
        books[j] = cents
    return books


def pq_build_index(
    corpus: DataFrame,
    index_path: str,
    m: int = 8,
    ks: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 1,
    train_sample: int = 20000,
) -> None:
    """Build phase: L2-normalize, train per-sub-space codebooks on a
    <=train_sample driver sample, encode every corpus vector to m code
    indices with a distributed pandas_udf, and write

    - ``{index_path}/codes``     (id, codes array<int>, nvec the
      normalized vector -- kept for the exact re-rank; a production
      index at 100 TB would join back to the corpus table instead of
      duplicating vectors),
    - ``{index_path}/codebooks`` (sub, cid, cvec).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # norm once per row as a column, NOT inside the transform lambda
    # (which would re-run the O(d) aggregate for each of the d elements)
    base = corpus.select(
        F.col(corpus_id).alias("id"),
        F.col(corpus_vec).alias("__v"),
        l2_norm(F.col(corpus_vec)).alias("__n"),
    ).select(
        "id",
        F.transform(F.col("__v"), lambda x: x.cast("double") / F.col("__n")).alias("nvec"),
    )
    if train_sample > 1_000_000:
        raise ValueError(
            f"train_sample={train_sample}: codebooks train driver-side in numpy; "
            "keep the sample bounded (<=1e6) -- FAISS-style, more rows don't help"
        )
    sample = np.array(
        [r["nvec"] for r in base.limit(train_sample).collect()], dtype=np.float64
    )
    # the limit() above is the ONLY thing keeping this collect bounded
    assert sample.shape[0] <= train_sample
    books = _train_pq_codebooks(sample, m, ks, seed)
    spark = corpus.sparkSession
    bbooks = spark.sparkContext.broadcast(books)
    dsub = books.shape[2]

    @pandas_udf("array<int>")
    def encode(col: pd.Series) -> pd.Series:
        bk = bbooks.value
        V = np.stack(col.values)  # (n, d)
        n = V.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            sub = V[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - bk[j][None, :, :]) ** 2).sum(-1)
            codes[:, j] = d2.argmin(1)
        return pd.Series(list(codes))

    base.select("id", "nvec", encode("nvec").alias("codes")).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/codes")
    rows = [
        (j, c, [float(x) for x in books[j, c]]) for j in range(m) for c in range(ks)
    ]
    spark.createDataFrame(rows, "sub int, cid int, cvec array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_path}/codebooks")


def pq_search(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    query_id: str = "query_id",
    query_vec: str = "qv",
    max_queries: int = 10_000,
) -> DataFrame:
    """Search phase: per-query ADC lookup tables (Q x m x ks inner
    products, built driver-side -- the query batch is small by
    contract), one pandas_udf scan over the CODES (never the vectors)
    scoring all queries per batch, ADC top ``refine*k`` short-list per
    query, exact cosine re-rank of the short-list against the stored
    normalized vectors.  Returns (query_id, vec_id, cosine, rank)
    with rank <= k -- the same shape as the other ANN paths.

    The query batch is collected to the driver (that is what makes the
    broadcast LUT trick work), so the batch size is capped at
    ``max_queries`` -- a larger table raises instead of silently
    OOM-ing the driver; split the batch or raise the cap explicitly."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books_rows = spark.read.parquet(f"{index_path}/codebooks").collect()
    m = 1 + max(r["sub"] for r in books_rows)
    ks = 1 + max(r["cid"] for r in books_rows)
    dsub = len(books_rows[0]["cvec"])
    books = np.empty((m, ks, dsub))
    for r in books_rows:
        books[r["sub"], r["cid"]] = r["cvec"]

    qrows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_search collects the query batch to the driver; got more than "
            f"max_queries={max_queries} rows -- split the batch or raise max_queries"
        )
    qids = [r[query_id] for r in qrows]
    Q = np.array([r[query_vec] for r in qrows], dtype=np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # LUT[q, j, c] = <q_subj, codebook[j][c]>  -> ADC score = sum_j LUT
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(qids), m, dsub), books)
    blut = spark.sparkContext.broadcast(lut)

    @pandas_udf("array<double>")
    def adc_scores(codes: pd.Series) -> pd.Series:
        L = blut.value
        C = np.stack(codes.values)  # (n, m)
        cols = np.arange(m)
        out = np.stack([L[q][cols, C].sum(1) for q in range(L.shape[0])], axis=1)
        return pd.Series(list(out))

    codes = spark.read.parquet(f"{index_path}/codes")
    scored = codes.select(
        "id", "nvec", F.posexplode(adc_scores("codes")).alias("qidx", "adc")
    )
    w = W.partitionBy("qidx").orderBy(F.desc("adc"), F.asc("id"))
    short = scored.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= refine * k
    )
    # the query-id column keeps its source type (string/int/long ids all
    # valid) instead of a hardcoded long
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    qmap_schema = StructType(
        [
            StructField("qidx", IntegerType()),
            StructField(query_id, queries.schema[query_id].dataType),
            StructField("qn", ArrayType(DoubleType())),
        ]
    )
    qmap = F.broadcast(
        spark.createDataFrame(
            [(i, qid, [float(x) for x in Q[i]]) for i, qid in enumerate(qids)],
            qmap_schema,
        )
    )
    rerank = short.join(qmap, "qidx").select(
        query_id,
        F.col("id").alias("vec_id"),
        dot(F.col("nvec"), F.col("qn")).alias("cosine"),
    )
    w2 = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rerank.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .orderBy(query_id, "rank")
    )


def ivf_search_assigned(
    corpus: DataFrame,
    assignments: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
) -> DataFrame:
    """IVF search over a PRE-ASSIGNED corpus with an explicit centroid
    list -- quantizer-agnostic: feed it MLlib assignments or the
    bit-exact ``ml.deterministic.deterministic_kmeans`` output.  With
    the deterministic quantizer the WHOLE ANN search becomes
    value-verifiable (probe choice included), which the MLlib-backed
    ``ivf_topk`` can never be (rows-only by contract).

    Determinism: probe distances AND cosines round to 6 dp BEFORE
    their rank windows (ties then break on cell / corpus id), so rank
    boundaries cannot flip on last-ULP float noise across engines.

    Scale shape: identical to ``ivf_topk`` -- the centroid table rides
    as a broadcast, each query probes ``nprobe`` cells, and the cell
    equi-join scans only matching cell partitions.
    """
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
        "cell int, cvec array<double>",
    )
    q = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qvec"))
    qc = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "qvec",
        "cell",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("qvec"),
                    F.col("cvec"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d2"),
    )
    wq = W.partitionBy("qid").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qvec", "cell", l2_norm(F.col("qvec")).alias("__qn"))
    )

    assigned = corpus.select(
        F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("vec")
    ).join(
        assignments.select(F.col(corpus_id).alias("id"), F.col("cluster").alias("cell")),
        "id",
    ).withColumn("__cn", l2_norm(F.col("vec")))

    scored = assigned.join(F.broadcast(probes), "cell").select(
        F.col("qid").alias(query_id),
        F.col("id").alias(corpus_id),
        F.round(
            dot(F.col("vec"), F.col("qvec")) / (F.col("__cn") * F.col("__qn")), 6
        ).alias("cosine"),
    )
    wr = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )


def pq_search_coded(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qv",
) -> DataFrame:
    """PQ search over PRE-COMPUTED codes with an explicit codebook --
    quantizer-agnostic (the ``ivf_search_assigned`` convention): feed
    it the numpy ``pq_build_index`` output or the bit-exact
    ``ml.deterministic.deterministic_pq`` codes.  With the
    deterministic quantizer the WHOLE search -- ADC table, short-list
    cut, re-rank -- becomes value-verifiable in SQL, which the
    numpy-trained ``pq_search`` can never be (rows-only by contract).

    Stages, all JVM-side (no Python, no driver data-path collect):

    - LUT: queries L2-normalize, then one broadcast cross-join against
      the m*ks codebook rows; each inner product is a sequential
      array fold rounded to 6 dp and CAST TO DECIMAL(38,6), so the
      cross-sub-space ADC sum is exact integer arithmetic --
      order-independent across partitionings and engines.
    - ADC: codes (long form: id, sub, cid) broadcast-join the LUT on
      (sub, cid), one map-side-combined groupBy summing the m decimal
      terms per (query, vector).
    - short-list: top ``refine * k`` per query by (adc, id) through
      ``grouped_topk`` -- each map task ships at most ``refine * k``
      rows per query, so the corpus-sized ADC stream never funnels
      whole into one task's sort.
    - re-rank: exact cosine (6 dp) of the short-list against the
      corpus vectors; final rank window is bounded (refine*k rows per
      query).

    Scale shape: the only corpus-sized exchange is the ADC groupBy
    over the codes scan (grouped_topk's exchange moves at most
    ``refine * k`` rows per query per map task); codebook and query relations ride as
    broadcasts.  Codes are ~m bytes/vector vs 4*dim for floats -- the
    32x-compression memory story of the numpy path, kept.
    """
    spark = corpus.sparkSession
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    book_rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(m)
        for c in range(len(codebooks[j]))
    ]
    books_df = spark.createDataFrame(book_rows, "sub int, cid int, cvec array<double>")

    qn = queries.select(
        F.col(query_id).alias("qid"),
        F.col(query_vec).alias("__qv"),
        l2_norm(F.col(query_vec)).alias("__n"),
    ).select(
        "qid",
        F.col("__qv").alias("qvec"),
        F.col("__n").alias("qnorm"),
        F.transform(F.col("__qv"), lambda x: x.cast("double") / F.col("__n")).alias("nq"),
    )
    lut = qn.crossJoin(F.broadcast(books_df)).select(
        "qid",
        "sub",
        "cid",
        F.round(dot(F.slice(F.col("nq"), F.col("sub") * dsub + 1, dsub), F.col("cvec")), 6)
        .cast("decimal(38,6)")
        .alias("ip"),
    )

    adc = (
        codes.select(F.col(corpus_id).alias("id"), "sub", "cid")
        .join(F.broadcast(lut), ["sub", "cid"])
        .groupBy("qid", "id")
        .agg(F.sum("ip").alias("adc"))
    )
    from ..functions.ranking import grouped_topk

    short = grouped_topk(
        adc,
        ["qid"],
        [F.desc("adc"), F.asc("id")],
        k=refine * k,
        rank_col="__sr",
    ).select("qid", "id")

    rerank = (
        short.join(
            corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("vec")),
            "id",
        )
        .join(F.broadcast(qn.select("qid", "qvec", "qnorm")), "qid")
        .select(
            F.col("qid").alias(query_id),
            F.col("id").alias(corpus_id),
            F.round(
                dot(F.col("vec"), F.col("qvec")) / (l2_norm(F.col("vec")) * F.col("qnorm")),
                6,
            ).alias("cosine"),
        )
    )
    wr = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return rerank.withColumn("rank", F.row_number().over(wr)).filter(F.col("rank") <= k)
