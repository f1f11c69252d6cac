"""Non-SQL-expressible queries: ML pipeline (k-means), LSH near-dup,
ANN similarity, SimHash.  Registered without oracles -> the driver
records rows-only checks; exact semantics are unit-tested with planted
fixtures in tests/ (SURVEY.md section 5 point 3: assert invariants, not
bit-exact assignments).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.clustering import assemble_features, cluster_summary, fit_kmeans
from ..operators.dedup import minhash_near_dup_pairs, simhash64_frame
from ..operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from .co2_shaped import user_change_df
from ..sources.readers import read_documents
from .registry import register

#: expected near-dup pairs for the hand-rolled banded MinHash: the full
#: deterministic pipeline (xxhash64 shingle hashes, Random(42) affine
#: constants, banding, exact-Jaccard verify) replicated in pure
#: Python/numpy (tools/gen_minhash_expected.py), keyed by a corpus md5
#: the oracle recomputes in SQL
_DEDUP_EXPECTED = _os.path.abspath(
    _os.path.join(_os.path.dirname(__file__), "..", "..", "fixtures", "expected_dedup")
)

#: the corpus fingerprint both the generator and the oracle compute
_CORPUS_MD5_SQL = "(SELECT md5(string_agg(md5(text), '' ORDER BY doc_id)) FROM documents)"

#: same idea for the embeddings table (tools/gen_lsh_expected.py)
_EMB_MD5_SQL = (
    "(SELECT md5(string_agg(md5(CAST(embedding AS VARCHAR)), '' ORDER BY vec_id)) "
    "FROM embeddings)"
)


def _index_cache_path(sf_dir: str, kind: str) -> str:
    """Cache location for persisted ANN indexes: rooted at the repo (or
    $SPARK_GRAFT_CACHE_DIR), keyed by scale-factor name PLUS a
    fingerprint of the embeddings source files (name + size + mtime) --
    a regenerated fixture therefore gets a fresh index instead of
    silently reusing a stale one, and the path follows the checkout
    instead of hardcoding an absolute directory."""
    import hashlib
    import os

    root = os.environ.get(
        "SPARK_GRAFT_CACHE_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".cache",
        ),
    )
    src = os.path.join(sf_dir, "embeddings.parquet")
    sig = hashlib.md5()
    if os.path.isdir(src):
        for name in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, name))
            sig.update(f"{name}:{st.st_size}:{int(st.st_mtime)};".encode())
    elif os.path.exists(src):
        st = os.stat(src)
        sig.update(f"{st.st_size}:{int(st.st_mtime)}".encode())
    sf_name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(root, f"{kind}_index_{sf_name}_{sig.hexdigest()[:10]}")


def _publish_cache_dir(tmp: str, final: str, ready_marker: str = "_SUCCESS") -> None:
    """Atomically publish a freshly-built cache directory (VERDICT r5
    #3): the builder writes everything into ``tmp`` (process-unique),
    then ONE POSIX directory rename makes it visible -- a concurrent
    process sharing ``SPARK_GRAFT_CACHE_DIR`` sees either nothing or
    the complete directory with its ready marker, never a
    half-overwritten tree whose ``_SUCCESS`` survived from a previous
    generation.  (``mode('overwrite')`` straight onto the final path
    deletes-then-writes in place, exactly that hazard; the JSON sides
    already used ``os.replace`` -- this is the directory analogue.)

    Collision rule: if the rename fails because another process won the
    race and its result is COMPLETE (ready marker present), ours is
    discarded -- both builders are deterministic, the contents agree.
    A leftover WITHOUT the marker is trusted by no reader (every cache
    guard in this module checks the marker), so it is cleared and
    replaced."""
    import os
    import shutil

    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.exists(os.path.join(final, ready_marker)):
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; theirs is whole
        else:
            shutil.rmtree(final, ignore_errors=True)  # unreadable leftover
            os.rename(tmp, final)


@register("kmeans_user_change", oracle=None, tags=("ml",))
def kmeans_user_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's ML leg (M1-M4) on the fixture-derived
    change table: assemble ['change','is_reduced'] -> KMeans(k=5,
    seed=1) -> assignment (reference project-co2.py:36-69)."""
    base = user_change_df(spark, sf_dir)
    feats = assemble_features(base, ["change", "is_reduced"])
    model = fit_kmeans(feats, k=5, seed=1)
    return model.transform(feats).select("user_id", "change", "is_reduced", "cluster")


@register("kmeans_cluster_ranges", oracle=None, tags=("ml",))
def kmeans_cluster_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster min/max + native label (reference A1+U1->X3,
    project-co2.py:130-132)."""
    assigned = kmeans_user_change(spark, sf_dir)
    return cluster_summary(assigned, value_col="change", cluster_col="cluster")


@register("kmeans_embeddings", oracle=None, tags=("ml", "vector"))
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus (the IVF coarse quantizer)."""
    from pyspark.ml.functions import array_to_vector

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        "label",
        array_to_vector(F.transform("embedding", lambda x: x.cast("double"))).alias("features"),
    )
    model = fit_kmeans(emb, k=8, seed=1)
    return model.transform(emb).select("vec_id", "label", "cluster")


def _det_kmeans(spark: SparkSession, sf_dir: str):
    """Deterministic k-means assignments + centroids for the fixture
    embeddings, through a fingerprint-keyed cache (the ANN-index
    build-once/search-many convention): training is a one-off build --
    5 full-batch iterations, each a Spark job -- while every consumer
    (kmeans_deterministic, semdedup_*, ann_ivf_det_top10) is a
    steady-state search/score that should not pay it again.  The
    output is deterministic by construction, so caching cannot change
    any value (tests pin cached == fresh)."""
    import json
    import os

    from ..ml.deterministic import deterministic_kmeans

    cache = _index_cache_path(sf_dir, "detkm")
    a_path, c_path = f"{cache}/assignments", f"{cache}/centroids.json"
    if os.path.exists(f"{a_path}/_SUCCESS") and os.path.exists(c_path):
        with open(c_path) as fh:
            centroids = json.load(fh)
        return spark.read.parquet(a_path), centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out, centroids = deterministic_kmeans(
        emb, "vec_id", "embedding", k=8, n_iter=5, seed=42
    )
    tmp_a = f"{a_path}.tmp-{os.getpid()}"
    out.write.mode("overwrite").parquet(tmp_a)
    _publish_cache_dir(tmp_a, a_path)
    os.makedirs(cache, exist_ok=True)
    tmp = c_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(centroids, fh)
    os.replace(tmp, c_path)
    return spark.read.parquet(a_path), centroids


@register(
    "kmeans_deterministic",
    oracle=f"""
    SELECT vec_id, cluster
    FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY vec_id
    """,
    tags=("ml", "vector"),
)
def kmeans_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioning-independent k-means assignments (ml/deterministic.py):
    md5-keyed init, decimal-exact centroid sums, fixed iteration count.
    Unlike the MLlib path (rows-only forever: per-partition RNG +
    order-dependent float sums), this variant is reproducible by
    construction and oracle-checked bit-exact against a pure-Python
    replication (tools/gen_kmeans_expected.py)."""
    out, _ = _det_kmeans(spark, sf_dir)
    return out.orderBy("vec_id")


@register(
    "kmeans_deterministic_centroids",
    oracle=f"""
    SELECT cluster, pos, value
    FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic_centroids.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY cluster, pos
    """,
    tags=("ml", "vector"),
)
def kmeans_deterministic_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final centroids of kmeans_deterministic in long form
    (cluster, pos, value) -- every coordinate double matched BIT-EXACT
    by the replication oracle, the strongest possible statement that
    the distributed decimal-sum update is order-independent."""
    _, centroids = _det_kmeans(spark, sf_dir)
    spark_df = spark.createDataFrame(
        [(ci, pos, v) for ci, c in enumerate(centroids) for pos, v in enumerate(c)],
        "cluster int, pos int, value double",
    )
    return spark_df.orderBy("cluster", "pos")


@register(
    "minhash_near_dups",
    oracle=f"""
    SELECT id_a, id_b, jaccard_distance
    FROM read_parquet('{_DEDUP_EXPECTED}/minhash_ml_pairs.parquet')
    WHERE corpus_md5 = {_CORPUS_MD5_SQL}
    ORDER BY id_a, id_b
    """,
    tags=("dedup",),
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents (jaccard distance
    < 0.7 -- the fixture corpus is random word-salad, so only genuinely
    similar docs pair up; planted-duplicate tests pin the semantics).

    Oracle: the pyspark.ml MinHashLSH + HashingTF pipeline is
    deterministic for seed 42, so it is replicated independently
    (spec Murmur3 term hashing, java.util.Random coefficients, strict
    < threshold -- tools/gen_minhash_ml_expected.py) and matched
    bit-exact on the jaccard distance."""
    docs = read_documents(spark, sf_dir)
    return minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hash_tables=8, max_jaccard_distance=0.7
    )


@register(
    "minhash_banded_near_dups",
    oracle=f"""
    SELECT id_a, id_b, est_jaccard, jaccard
    FROM read_parquet('{_DEDUP_EXPECTED}/minhash_banded_pairs.parquet')
    WHERE corpus_md5 = {_CORPUS_MD5_SQL}
    ORDER BY id_a, id_b
    """,
    tags=("dedup",),
)
def minhash_banded_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled MinHash banding (shingle -> k minhashes -> b bands ->
    bucket-join -> exact-Jaccard candidate verification); the
    custom-operator counterpart of minhash_near_dups (pyspark.ml),
    ~2x faster at sf0.1 with the codegen-friendly columnar signature.
    Recall vs exact ngram_jaccard_pairs is unit-tested.

    Oracle: the ENTIRE deterministic pipeline replicated independently
    in pure Python/numpy (tools/gen_minhash_expected.py -- spec xxHash64,
    Random(42) affine constants, banding, exact-Jaccard), precomputed
    per corpus and matched bit-exact on est_jaccard AND jaccard."""
    from ..operators.dedup import minhash_banded_pairs
    from .text_queries import _jaccard_agg_partitions

    docs = read_documents(spark, sf_dir)
    # ONE byte gate picks the shape (the r10 crossover fix): below it
    # the corpus keeps the r8 sig-on-posting shape and the corpus-wide
    # shingle cache (tiny exchanges, fewest stages); above it slim
    # postings + candidate-pruned verification win (same byte sizing
    # as the substring/Jaccard families; operator docstring A/B)
    big = _jaccard_agg_partitions(spark, sf_dir, divisor_kib=512) is not None
    return minhash_banded_pairs(
        docs, "doc_id", "text", min_jaccard=0.3, slim_postings=big
    )


#: expected tables for the hash-based text queries: pure functions of
#: the TEXT, precomputed by an independent pure-Python replication
#: (xxHash64 from the public spec -- tools/gen_text_expected.py) and
#: joined on md5(text), so the oracle is sf-agnostic and genuinely
#: cross-implementation (JVM xxhash64 vs spec-Python xxh64)
_TEXT_EXPECTED = _os.path.abspath(
    _os.path.join(_os.path.dirname(__file__), "..", "..", "fixtures", "expected_text")
)


@register(
    "simhash_signatures",
    oracle=f"""
    SELECT d.doc_id, e.simhash
    FROM documents d
    JOIN read_parquet('{_TEXT_EXPECTED}/simhash.parquet') e
      ON md5(d.text) = e.text_md5
    ORDER BY d.doc_id
    """,
    tags=("dedup",),
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (deterministic: xxhash64 seed fixed
    by Spark; pure map-side, no shuffle).  Oracle: expected signatures
    from the independent pure-Python xxHash64 replication (see
    _TEXT_EXPECTED) -- a JVM-vs-spec cross-implementation check.

    r13: above ``_SIMHASH_ARROW_MIN_BYTES`` of corpus the signing runs
    through ``simhash64_frame`` (JVM tokenize/shingle/xxhash64 -> one
    Arrow boundary -> numpy per-bit reduceat majority vote) --
    value-identical to the Column form (parity tests + this oracle);
    the S x 64 interpreted HOF vote was the query's dominant cost at
    sf10 (21.8 -> 8.2 s wall, executor run 296 -> 109 s, same-session
    A/B).  Below the gate the Column form stays: the Arrow path's fixed
    per-task Python-worker cost (~0.3 s) exceeds the whole vote on a
    few-MB corpus (measured 1.11 -> 1.44 s at sf0.1) -- the same
    byte-gate discipline as the minhash broadcast spine and the
    streaming state gates (scale-adaptive, not a local[32] constant)."""
    import os as _os2

    from ..operators.dedup import simhash64
    from ..sources.readers import table_nbytes

    docs = read_documents(spark, sf_dir)
    nbytes = table_nbytes(_os2.path.join(sf_dir, "documents.parquet"))
    if nbytes is not None and nbytes >= _SIMHASH_ARROW_MIN_BYTES:
        return simhash64_frame(docs, "doc_id", "text")
    return docs.select("doc_id", simhash64(F.col("text")).alias("simhash"))


#: on-disk corpus bytes above which the Arrow/numpy SimHash kernel
#: beats the JVM Column form (the ~0.3 s/task Python boundary
#: amortizes once the majority vote is seconds of executor time;
#: measured: sf0.1 (3 MB) regresses 1.11 -> 1.44 s through it, sf10
#: (84 MB) improves 21.8 -> 8.2 s -- the gate engages at sf10)
_SIMHASH_ARROW_MIN_BYTES = 64 << 20


@register(
    "embedding_near_dups",
    oracle=f"""
    SELECT id_a, id_b, cosine
    FROM read_parquet('{_DEDUP_EXPECTED}/embedding_near_dups.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "vector"),
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-projection LSH on
    L2-normalized vectors.  Threshold 0.4 matches the fixture corpus
    (random embeddings; max pairwise cosine ~0.51 -- production near-dup
    mining would use ~0.95).

    Oracle: Spark's BRP-LSH is deterministic for a fixed seed, so the
    whole pipeline (java.util.Random unit vectors, floor-bucket hashes,
    candidate join, euclidean filter) is replicated independently in
    pure Python (tools/gen_lsh_expected.py) and matched bit-exact."""
    from ..operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", min_cosine=0.4)


@register(
    "ann_lsh_top10",
    oracle=f"""
    SELECT query_id, vec_id, cosine, rank
    FROM read_parquet('{_DEDUP_EXPECTED}/ann_lsh_top10.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY query_id, rank
    """,
    tags=("vector", "similarity"),
)
def ann_lsh_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 neighbors for 5 query vectors via
    random-projection LSH; recall vs brute force is unit-tested.
    Oracle: the seed-deterministic LSH replicated in pure Python
    (tools/gen_lsh_expected.py), bit-exact on cosine and rank."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_topk(corpus, queries, k=10)


@register("ann_ivf_top10", oracle=None, tags=("vector", "similarity"))
def ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (k-means cells + nprobe search) for 5 queries."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return ivf_topk(corpus, queries, k=10, n_cells=8, nprobe=3)


@register(
    "knn_bruteforce_multi",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x))) AS qn
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x))) AS cn
      FROM embeddings WHERE vec_id >= 5
    ),
    scored AS (
      SELECT q.query_id, c.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.cv, q.qv), p -> p[1] * p[2]))
                   / (c.cn * q.qn), 6) AS cosine
      FROM c, q
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank FROM ranked
    WHERE rank <= 10 ORDER BY query_id, rank
    """,
    tags=("vector", "similarity"),
)
def knn_bruteforce_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-10 for 5 queries (the recall baseline for
    the two ANN variants above).  Cosines round to 6 dp BEFORE ranking
    on both engines so last-ULP noise cannot reorder the comparison
    (the knn_cosine_top10 convention); ties then break on vec_id."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return brute_force_topk(corpus, queries, k=10, round_dp=6)


@register("ann_ivf_persisted_top10", oracle=None, tags=("vector", "similarity"))
def ann_ivf_persisted_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a PERSISTED index (build-once/search-many): the
    index -- cell-partitioned corpus parquet + centroid table -- is
    built on first use and cached per scale factor; the search never
    refits KMeans and its cells scan is dynamic-partition-pruned down
    to the probed cells."""
    import os

    from ..operators.similarity import ivf_build_index, ivf_search

    index_path = _index_cache_path(sf_dir, "ivf")
    if not os.path.exists(f"{index_path}/centroids/_SUCCESS"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        tmp = f"{index_path}.tmp-{os.getpid()}"
        ivf_build_index(emb.filter(F.col("vec_id") >= 5), tmp, n_cells=8)
        _publish_cache_dir(tmp, index_path, ready_marker="centroids/_SUCCESS")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return ivf_search(spark, index_path, queries, k=10, nprobe=3)


def _ann_recall(spark: SparkSession, sf_dir: str, approx_fn) -> DataFrame:
    """recall@10 of an ANN method vs the exact brute-force result,
    per query -- the approximation quality surfaced AS DATA so it can
    be tracked round over round (and asserted >= a floor in tests)."""
    exact = knn_bruteforce_multi(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("exact_id")
    )
    approx = approx_fn(spark, sf_dir).select("query_id", "vec_id")
    hits = exact.join(
        approx, (exact.query_id == approx.query_id) & (exact.exact_id == approx.vec_id), "left"
    ).select(exact.query_id, F.col("vec_id").isNotNull().cast("int").alias("hit"))
    return (
        hits.groupBy("query_id")
        .agg((F.sum("hit") / F.count("*")).alias("recall_at_10"))
        .orderBy("query_id")
    )


@register(
    "ann_lsh_recall",
    oracle=f"""
    SELECT query_id, recall_at_10
    FROM read_parquet('{_DEDUP_EXPECTED}/ann_lsh_recall.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY query_id
    """,
    tags=("vector", "similarity", "metric"),
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the LSH ANN path vs exact, per query.  Both sides
    are seed-deterministic, so even the recall METRIC has a replication
    oracle (tools/gen_lsh_expected.py)."""
    return _ann_recall(spark, sf_dir, ann_lsh_top10)


@register("ann_ivf_recall", oracle=None, tags=("vector", "similarity", "metric"))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF ANN path vs exact, per query."""
    return _ann_recall(spark, sf_dir, ann_ivf_top10)


@register("ann_pq_top10", oracle=None, tags=("vector", "similarity"))
def ann_pq_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (build-once codes index, per-query ADC
    lookup tables, exact re-rank of the short-list) for the same 5
    queries as the other ANN paths.  Codes are 32x smaller than the
    float vectors -- the memory side of the FAISS-style family; recall
    vs exact is surfaced by ann_pq_recall and floor-asserted in
    tests."""
    import os

    from ..operators.similarity import pq_build_index, pq_search

    index_path = _index_cache_path(sf_dir, "pq")
    if not os.path.exists(f"{index_path}/codebooks/_SUCCESS"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        tmp = f"{index_path}.tmp-{os.getpid()}"
        pq_build_index(emb.filter(F.col("vec_id") >= 5), tmp, m=8, ks=16)
        _publish_cache_dir(tmp, index_path, ready_marker="codebooks/_SUCCESS")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return pq_search(spark, index_path, queries, k=10, refine=4)


@register("ann_pq_recall", oracle=None, tags=("vector", "similarity", "metric"))
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the PQ ANN path vs exact, per query."""
    return _ann_recall(spark, sf_dir, ann_pq_top10)


# --------------------------------------------------------------------------
# SemDeDup (operators/semdedup.py): cluster-then-prune semantic dedup.
# Clustering = kmeans_deterministic (bit-exact oracle above), so the
# WHOLE pipeline is value-verifiable: the oracle reads the proven
# assignments from the expected table and replays pair generation,
# thresholding, and the survivor rule in pure SQL.  Threshold 0.4
# matches the fixture corpus (random embeddings, max pairwise cosine
# ~0.51; production semantic dedup would use ~0.95).
# --------------------------------------------------------------------------
_SEMDEDUP_MIN_COS = 0.4
_SEMDEDUP_CTES = f"""
    asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    sizes AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY cluster),
    j AS (
      SELECT e.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), t -> t * t))) AS nrm
      FROM embeddings e
      JOIN asg a USING (vec_id)
      JOIN sizes s ON a.cluster = s.cluster
      WHERE s.n <= 10000  -- max_cluster_size: over-cap clusters skipped
        AND SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), t -> t * t))) > 0
    ),
    pairs0 AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(x.v, y.v), p -> p[1] * p[2]))
                   / (x.nrm * y.nrm), 6) AS cosine
      FROM j x JOIN j y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    pairs AS (SELECT * FROM pairs0 WHERE cosine >= {_SEMDEDUP_MIN_COS})
"""


def _semdedup_inputs(spark: SparkSession, sf_dir: str):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assignments, _ = _det_kmeans(spark, sf_dir)
    return emb, assignments


@register(
    "semdedup_pairs",
    oracle=f"""
    WITH
    {_SEMDEDUP_CTES}
    SELECT id_a, id_b, cluster, cosine
    FROM pairs
    ORDER BY id_a, id_b
    """,
    tags=("dedup", "vector", "ml"),
)
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster cosine near-dup pairs under the deterministic
    k-means clustering -- the SemDeDup candidate set."""
    from ..operators.semdedup import semantic_dedup_pairs

    emb, assignments = _semdedup_inputs(spark, sf_dir)
    return semantic_dedup_pairs(
        emb, assignments, min_cosine=_SEMDEDUP_MIN_COS
    ).orderBy("id_a", "id_b")


@register(
    "semdedup_survivors",
    oracle=f"""
    WITH
    {_SEMDEDUP_CTES}
    SELECT a.vec_id, a.cluster
    FROM asg a
    ANTI JOIN (SELECT DISTINCT id_b FROM pairs) d ON a.vec_id = d.id_b
    ORDER BY a.vec_id
    """,
    tags=("dedup", "vector", "ml"),
)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup survivor set: rows with no smaller-id within-cluster
    neighbor at cosine >= threshold."""
    from ..operators.semdedup import semantic_dedup_survivors

    emb, assignments = _semdedup_inputs(spark, sf_dir)
    return semantic_dedup_survivors(
        emb, assignments, min_cosine=_SEMDEDUP_MIN_COS
    ).orderBy("vec_id")


@register(
    "semdedup_cluster_stats",
    oracle=f"""
    WITH
    asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    sizes AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY cluster)
    SELECT COUNT(*) AS n_clusters,
           CAST(SUM(CASE WHEN n > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_clusters,
           CAST(SUM(CASE WHEN n > 10000 THEN n ELSE 0 END) AS BIGINT) AS n_skipped_rows,
           MAX(n) AS max_cluster,
           CAST(SUM(CASE WHEN n <= 10000 THEN n * (n - 1) / 2 ELSE 0 END) AS BIGINT) AS candidate_pairs
    FROM sizes
    """,
    tags=("dedup", "vector", "ml", "metric"),
)
def semdedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-population monitor for SemDeDup: pair-join volume about
    to be paid + how much the max_cluster_size cap would drop."""
    from ..operators.semdedup import semantic_cluster_stats

    emb, assignments = _semdedup_inputs(spark, sf_dir)
    return semantic_cluster_stats(emb, assignments, max_cluster_size=10_000)


#: corpora at or under this many vectors route semdedup_pairs_bigk's
#: assignment through the bit-exact deterministic_kmeans centroids (k=8
#: at fixture scale: every answer oracle-replayable); above it, a fixed
#: tiny k would put every cluster over the max_cluster_size cap (the
#: vacuous sf10 run VERDICT r5 #1 flagged), so the quantizer grows as
#: sqrt(N) via the sampled numpy trainer -- the published SemDeDup
#: scaling rule, which keeps per-cluster pair blocks ~constant and the
#: search linear in N
_BIGK_DET_MAX_ROWS = 10_000


def _bigk_assignments(spark: SparkSession, sf_dir: str):
    """(emb, assignments) with assignment ALWAYS through
    assign_by_broadcast_centroids -- the designated large-k scale path
    (broadcast centroid table, map-side-combined min(struct) selection;
    plan-pinned in tests/test_plans.py).  Centroid source is
    size-routed, see _BIGK_DET_MAX_ROWS."""
    import json
    import os

    from ..operators.semdedup import (
        assign_by_broadcast_centroids,
        train_sampled_quantizer,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    if n <= _BIGK_DET_MAX_ROWS:
        _, centroids = _det_kmeans(spark, sf_dir)
        # oracle territory: the exact-fold Catalyst pipeline, bit-
        # identical to the deterministic_kmeans literal expression
        return emb, assign_by_broadcast_centroids(emb, centroids)
    else:
        k = max(2, int(n**0.5))
        cache = _index_cache_path(sf_dir, f"bigkq{k}")
        c_path = f"{cache}/centroids.json"
        if os.path.exists(c_path):
            with open(c_path) as fh:
                centroids = json.load(fh)
        else:
            centroids = train_sampled_quantizer(emb, k=k, seed=42)
            os.makedirs(cache, exist_ok=True)
            tmp = c_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(centroids, fh)
            os.replace(tmp, c_path)
    # scale territory (no oracle above the threshold): Arrow/GEMM
    # assignment -- one BLAS call per batch instead of 89M interpreted
    # fold lambdas at the sf10 shape (~15x; see the operator docstring)
    return emb, assign_by_broadcast_centroids(emb, centroids, backend="gemm")


@register(
    "semdedup_pairs_bigk",
    oracle=f"""
    WITH
    {_SEMDEDUP_CTES}
    SELECT id_a, id_b, cluster, cosine
    FROM pairs
    """,
    tags=("dedup", "vector", "ml"),
)
def semdedup_pairs_bigk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semdedup_pairs through the LARGE-k quantizer path (VERDICT r5
    #2): assignment is the broadcast-centroid join + map-side-combined
    min(struct) aggregate (operators/semdedup.py
    assign_by_broadcast_centroids) instead of the k*dim plan-literal
    expression.  At fixture scale the centroids are the
    deterministic_kmeans k=8 set, so both assignment paths agree
    row-for-row (parity test) and this query must hash-match the SAME
    DuckDB oracle as semdedup_pairs -- the scale path gets its own
    green correctness row, not just unit parity.  Above
    _BIGK_DET_MAX_ROWS vectors the quantizer grows as sqrt(N) (sampled
    numpy trainer, operators/semdedup.py train_sampled_quantizer), the
    configuration the sf10 scale point measures.

    No final sort (r10): the result SET is deterministic, but the
    driver's value hash and tools/check_oracle.py both compare
    order-insensitively, so a global orderBy over the sf10 45M-row
    pair result bought nothing the contract needs while spilling
    ~1.1 GiB in its range exchange -- the suite's last spill row.
    Callers that want ordered FILES should sortWithinPartitions after
    a byte-sized repartitionByRange at write time."""
    from ..operators.semdedup import semantic_dedup_pairs

    emb, assignments = _bigk_assignments(spark, sf_dir)
    return semantic_dedup_pairs(emb, assignments, min_cosine=_SEMDEDUP_MIN_COS)


@register(
    "semdedup_bigk_cluster_stats",
    oracle=f"""
    WITH
    asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    sizes AS (SELECT cluster, COUNT(*) AS n FROM asg GROUP BY cluster)
    SELECT COUNT(*) AS n_clusters,
           CAST(SUM(CASE WHEN n > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_clusters,
           CAST(SUM(CASE WHEN n > 10000 THEN n ELSE 0 END) AS BIGINT) AS n_skipped_rows,
           MAX(n) AS max_cluster,
           CAST(SUM(CASE WHEN n <= 10000 THEN n * (n - 1) / 2 ELSE 0 END) AS BIGINT) AS candidate_pairs
    FROM sizes
    """,
    tags=("dedup", "vector", "ml", "metric"),
)
def semdedup_bigk_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-population monitor under the bigk quantizer -- at scale
    the evidence that the sqrt(N) rule keeps every cluster under the
    max_cluster_size cap (n_skipped_clusters = 0, the vacuous-run alarm
    from VERDICT r5 #1).  At fixture scale the bigk assignment equals
    the deterministic_kmeans one (parity-pinned), so the oracle replays
    the SAME expected assignments as semdedup_cluster_stats -- the
    broadcast path's population stats get a value check, not rows-only.
    Above _BIGK_DET_MAX_ROWS the numpy-trained centroids take over (not
    machine-independent, never oracle'd; see train_sampled_quantizer)."""
    from ..operators.semdedup import semantic_cluster_stats

    emb, assignments = _bigk_assignments(spark, sf_dir)
    return semantic_cluster_stats(emb, assignments, max_cluster_size=10_000)


# --------------------------------------------------------------------------
# Deterministic logistic regression (ml/deterministic.py
# deterministic_logreg): the trainable quality-classifier stage, made
# bit-exactly verifiable like the k-means above -- algebraic
# (rational) sigmoid instead of exp(), DECIMAL(38,15) gradient sums,
# fixed iteration count.  Target y = (label < 5), the balanced binary
# split of the fixture's 10-way label; the fixture labels are random
# w.r.t. the embeddings, so train accuracy is ~chance -- the oracle
# verifies the TRAINING MECHANICS bit-for-bit, not model quality.
# --------------------------------------------------------------------------
def _logreg_weights_cached(spark: SparkSession, sf_dir: str):
    """(weights, intercept) for the deterministic logistic regression,
    through the same fingerprint-keyed cache as _det_kmeans: training
    (5 GD iterations = 5 jobs) is a one-off build; scoring queries are
    the steady-state path and load the weights."""
    import json
    import os

    from ..ml.deterministic import deterministic_logreg

    cache = _index_cache_path(sf_dir, "detlr")
    w_path = f"{cache}/weights.json"
    if os.path.exists(w_path):
        with open(w_path) as fh:
            d = json.load(fh)
        return d["weights"], d["intercept"]

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "y_bin", (F.col("label") < 5).cast("int")
    )
    _, weights, intercept = deterministic_logreg(
        emb, "vec_id", "embedding", "y_bin", n_iter=5, lr=0.5
    )
    os.makedirs(cache, exist_ok=True)
    tmp = w_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"weights": weights, "intercept": intercept}, fh)
    os.replace(tmp, w_path)
    return weights, intercept


def _logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus under the (cached) trained weights -- a pure
    map, the production scoring shape."""
    from ..ml.deterministic import _algebraic_sigmoid, _margin_expr

    weights, intercept = _logreg_weights_cached(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    score = F.round(
        _algebraic_sigmoid(_margin_expr("embedding", weights, intercept)), 6
    )
    return emb.select(
        "vec_id",
        (F.col("label") < 5).cast("int").alias("y"),
        score.alias("score"),
        (score >= F.lit(0.5)).cast("int").alias("pred"),
    )


_LOGREG_WEIGHTS_SQL = f"""
      SELECT pos, weight
      FROM read_parquet('{_DEDUP_EXPECTED}/logreg_weights.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
"""

_LOGREG_SCORED_CTES = f"""
    w AS ({_LOGREG_WEIGHTS_SQL}),
    wl AS (
      SELECT (SELECT weight FROM w WHERE pos = 0) AS b,
             (SELECT LIST(weight ORDER BY pos) FROM w WHERE pos > 0) AS ws
    ),
    m AS (
      SELECT e.vec_id,
             CAST(e.label < 5 AS INT) AS y,
             wl.b + LIST_SUM(LIST_TRANSFORM(
                      LIST_ZIP(CAST(e.embedding AS DOUBLE[]), wl.ws),
                      p -> p[1] * p[2])) AS margin
      FROM embeddings e CROSS JOIN wl
    ),
    scored AS (
      SELECT vec_id, y,
             ROUND(0.5 * (1.0 + (margin * 0.5) / (1.0 + ABS(margin * 0.5))), 6) AS score
      FROM m
    )
"""


@register(
    "logreg_quality_weights",
    oracle=f"""
    SELECT pos, weight FROM ({_LOGREG_WEIGHTS_SQL})
    ORDER BY pos
    """,
    tags=("ml", "vector"),
)
def logreg_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained weights in long form (pos 0 = intercept) -- every double
    matched BIT-EXACT by the pure-Python replication
    (tools/gen_logreg_expected.py), proving the distributed decimal
    gradient sums are order- and partitioning-independent."""
    weights, intercept = _logreg_weights_cached(spark, sf_dir)
    spark_df = spark.createDataFrame(
        [(0, intercept)] + [(p + 1, w) for p, w in enumerate(weights)],
        "pos int, weight double",
    )
    return spark_df.orderBy("pos")


@register(
    "logreg_quality_scores",
    oracle=f"""
    WITH
    {_LOGREG_SCORED_CTES}
    SELECT vec_id, y, score, CAST(score >= 0.5 AS INT) AS pred
    FROM scored
    ORDER BY vec_id
    """,
    tags=("ml", "vector"),
)
def logreg_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row classifier score (rounded 6 dp) + thresholded
    prediction; the oracle recomputes scores in SQL from the
    replication-proven weights."""
    return _logreg_scores(spark, sf_dir).orderBy("vec_id")


@register(
    "logreg_quality_confusion",
    oracle=f"""
    WITH
    {_LOGREG_SCORED_CTES}
    SELECT y, CAST(score >= 0.5 AS INT) AS pred, COUNT(*) AS n
    FROM scored
    GROUP BY y, pred
    ORDER BY y, pred
    """,
    tags=("ml", "vector", "metric"),
)
def logreg_quality_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix rollup of the deterministic classifier."""
    return (
        _logreg_scores(spark, sf_dir).groupBy("y", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y", "pred")
    )


# --------------------------------------------------------------------------
# Deterministic IVF ANN (operators/similarity.py ivf_search_assigned on
# the bit-exact k-means quantizer): unlike the MLlib-backed ann_ivf_*
# (rows-only by contract), the WHOLE search -- probe selection
# included -- is value-verified: the oracle recomputes probes and cell
# scans in SQL from the replication-proven assignment + centroid
# tables.
# --------------------------------------------------------------------------
_IVF_DET_NPROBE = 2


@register(
    "ann_ivf_det_top10",
    oracle=f"""
    WITH
    asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    cent AS (
      SELECT cluster AS cell, LIST(value ORDER BY pos) AS cvec
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic_centroids.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
      GROUP BY cluster
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), t -> t * t))) AS qn
      FROM embeddings WHERE vec_id < 5
    ),
    pd AS (
      SELECT q.qid, cent.cell,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qv, cent.cvec),
                                           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d2
      FROM q CROSS JOIN cent
    ),
    probes AS (
      SELECT qid, cell FROM pd
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cell) <= {_IVF_DET_NPROBE}
    ),
    member AS (
      SELECT e.vec_id, a.cluster AS cell, CAST(e.embedding AS DOUBLE[]) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), t -> t * t))) AS cn
      FROM embeddings e JOIN asg a USING (vec_id)
    ),
    scored AS (
      SELECT p.qid AS query_id, m.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(m.v, q.qv), t -> t[1] * t[2]))
                   / (m.cn * q.qn), 6) AS cosine
      FROM probes p
      JOIN member m ON m.cell = p.cell
      JOIN q ON q.qid = p.qid
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("vector", "similarity", "ml"),
)
def ann_ivf_det_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 for the 5 standard queries over the deterministic
    quantizer (corpus = all embeddings, nprobe=2 of 8 cells) -- the
    oracle-checked twin of the rows-only MLlib IVF path."""
    from ..operators.similarity import ivf_search_assigned

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assignments, centroids = _det_kmeans(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = ivf_search_assigned(
        emb, assignments, centroids, queries, k=10, nprobe=_IVF_DET_NPROBE
    )
    return out.orderBy("query_id", "rank")


@register(
    "ann_ivf_det_recall",
    oracle=f"""
    WITH
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), t -> t * t))) AS qn
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), t -> t * t))) AS cn
      FROM embeddings WHERE vec_id >= 5
    ),
    exact AS (
      SELECT qid AS query_id, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.v, q.qv), t -> t[1] * t[2]))
                       / (c.cn * q.qn), 6) DESC, c.vec_id) AS rnk
        FROM c CROSS JOIN q
      ) WHERE rnk <= 10
    ),
    asg AS (
      SELECT vec_id, cluster
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    cent AS (
      SELECT cluster AS cell, LIST(value ORDER BY pos) AS cvec
      FROM read_parquet('{_DEDUP_EXPECTED}/kmeans_deterministic_centroids.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
      GROUP BY cluster
    ),
    pd AS (
      SELECT q.qid, cent.cell,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.qv, cent.cvec),
                                           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d2
      FROM q CROSS JOIN cent
    ),
    probes AS (
      SELECT qid, cell FROM pd
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cell) <= {_IVF_DET_NPROBE}
    ),
    approx AS (
      SELECT qid AS query_id, vec_id FROM (
        SELECT p.qid, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.v, q.qv), t -> t[1] * t[2]))
                       / (c.cn * q.qn), 6) DESC, c.vec_id) AS rnk
        FROM probes p
        JOIN asg a ON a.cluster = p.cell
        JOIN c ON c.vec_id = a.vec_id
        JOIN q ON q.qid = p.qid
      ) WHERE rnk <= 10
    ),
    hits AS (
      SELECT e.query_id,
             CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e
      LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    )
    SELECT query_id,
           CAST(SUM(hit) AS BIGINT) AS n_hit_10,
           ROUND(CAST(SUM(hit) AS DOUBLE) / 10.0, 6) AS recall_at_10
    FROM hits GROUP BY query_id ORDER BY query_id
    """,
    tags=("vector", "similarity", "metric", "ml"),
)
def ann_ivf_det_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the DETERMINISTIC IVF path vs the 6-dp-rounded
    exact brute-force baseline, per query -- the VALUE-VERIFIED twin of
    the rows-only ``ann_ivf_recall`` (whose MLlib quantizer is not
    engine-replayable): both arms replay in SQL, so the recall METRIC
    itself is oracle-checked data, not a floor-asserted self-report.

    Arms share the ``_ann_recall`` conventions: corpus = vec_id >= 5
    (query vectors excluded), cosines rounded to 6 dp BEFORE ranking
    with vec_id tie-break.  The det quantizer (assignments + centroids)
    comes through the `_det_kmeans` build-once cache; probe choice is
    the same `_IVF_DET_NPROBE`-of-8 as ``ann_ivf_det_top10``."""
    from ..operators.similarity import brute_force_topk, ivf_search_assigned

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    assignments, centroids = _det_kmeans(spark, sf_dir)
    exact = brute_force_topk(corpus, queries, k=10, round_dp=6).select(
        "query_id", F.col("vec_id").alias("exact_id")
    )
    approx = ivf_search_assigned(
        corpus, assignments, centroids, queries, k=10, nprobe=_IVF_DET_NPROBE
    ).select("query_id", "vec_id")
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.exact_id == approx.vec_id),
        "left",
    ).select(exact.query_id, F.col("vec_id").isNotNull().cast("int").alias("hit"))
    return (
        hits.groupBy("query_id")
        .agg(
            F.sum("hit").cast("long").alias("n_hit_10"),
            F.round(F.sum("hit").cast("double") / F.lit(10.0), 6).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# Deterministic PQ ANN (ml/deterministic.py deterministic_pq +
# operators/similarity.py pq_search_coded): the value-verifiable twin
# of the numpy-trained ann_pq_top10 (rows-only by contract -- numpy's
# SIMD float-sum order is not replicable).  Codebooks train with the
# bit-exact per-sub-space k-means, codes ARE the assignments, the ADC
# sum is exact DECIMAL(38,6) arithmetic, and the whole search -- LUT,
# short-list cut, cosine re-rank -- replays in SQL against the
# generator-replicated expected tables (tools/gen_pq_expected.py).
# --------------------------------------------------------------------------
_PQ_DET_M = 4
_PQ_DET_KS = 16
_PQ_DET_REFINE = 4
#: dim 64 / m 4 -- the oracle SQL needs the slice width as a literal
_PQ_DET_DSUB = 16


def _det_pq(spark: SparkSession, sf_dir: str):
    """Deterministic PQ codes + codebooks for the fixture embeddings,
    through the fingerprint-keyed build-once cache (the _det_kmeans
    convention): training is a one-off scheduled build (m * n_iter
    bounded scans); every search should not pay it again.  Output is
    deterministic by construction, so caching cannot change values."""
    import json
    import os

    from ..ml.deterministic import deterministic_pq

    cache = _index_cache_path(sf_dir, "detpq")
    c_path, b_path = f"{cache}/codes", f"{cache}/codebooks.json"
    if os.path.exists(f"{c_path}/_SUCCESS") and os.path.exists(b_path):
        with open(b_path) as fh:
            books = json.load(fh)
        return spark.read.parquet(c_path), books

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes, books = deterministic_pq(
        emb, "vec_id", "embedding", m=_PQ_DET_M, ks=_PQ_DET_KS, n_iter=5, seed=42
    )
    tmp_c = f"{c_path}.tmp-{os.getpid()}"
    codes.write.mode("overwrite").parquet(tmp_c)
    _publish_cache_dir(tmp_c, c_path)
    os.makedirs(cache, exist_ok=True)
    tmp = b_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(books, fh)
    os.replace(tmp, b_path)
    return spark.read.parquet(c_path), books


@register(
    "pq_det_codes",
    oracle=f"""
    SELECT vec_id, sub, cid
    FROM read_parquet('{_DEDUP_EXPECTED}/pq_det_codes.parquet')
    WHERE corpus_md5 = {_EMB_MD5_SQL}
    ORDER BY vec_id, sub
    """,
    tags=("ml", "vector", "similarity"),
)
def pq_det_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's PQ code in every sub-space under the
    deterministic quantizer -- bit-for-bit against the independent
    pure-Python replication (the kmeans_deterministic convention),
    so a drift anywhere in normalize/slice/train/assign pins to the
    exact (vector, sub-space) cell."""
    codes, _ = _det_pq(spark, sf_dir)
    return codes.select("vec_id", "sub", "cid").orderBy("vec_id", "sub")


_PQ_DET_ORACLE_CTES = f"""
    bk AS (
      SELECT sub, cid, LIST(value ORDER BY pos) AS cvec
      FROM read_parquet('{_DEDUP_EXPECTED}/pq_det_codebooks.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
      GROUP BY sub, cid
    ),
    codes AS (
      SELECT vec_id, sub, cid
      FROM read_parquet('{_DEDUP_EXPECTED}/pq_det_codes.parquet')
      WHERE corpus_md5 = {_EMB_MD5_SQL}
    ),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x))) AS qn
      FROM embeddings WHERE vec_id < 5
    ),
    nq AS (
      SELECT qid, qv, qn, LIST_TRANSFORM(qv, x -> x / qn) AS nv FROM q
    ),
    lut AS (
      SELECT nq.qid, bk.sub, bk.cid,
             CAST(ROUND(LIST_SUM(LIST_TRANSFORM(
                    LIST_ZIP(nq.nv[bk.sub * {_PQ_DET_DSUB} + 1 : (bk.sub + 1) * {_PQ_DET_DSUB}],
                             bk.cvec),
                    p -> p[1] * p[2])), 6) AS DECIMAL(38,6)) AS ip
      FROM nq CROSS JOIN bk
    ),
    adc AS (
      SELECT l.qid, c.vec_id, SUM(l.ip) AS adc
      FROM codes c JOIN lut l USING (sub, cid)
      GROUP BY l.qid, c.vec_id
    ),
    short AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS sr
        FROM adc
      ) WHERE sr <= {_PQ_DET_REFINE * 10}
    ),
    rerank AS (
      SELECT s.qid AS query_id, s.vec_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(
                      LIST_ZIP(CAST(e.embedding AS DOUBLE[]), nq.qv), p -> p[1] * p[2]))
                   / (SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
                      * nq.qn), 6) AS cosine
      FROM short s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN nq ON nq.qid = s.qid
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS INT) AS rank
      FROM rerank
    )
"""


@register(
    "ann_pq_det_top10",
    oracle=f"""
    WITH
    {_PQ_DET_ORACLE_CTES}
    SELECT query_id, vec_id, cosine, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("vector", "similarity", "ml"),
)
def ann_pq_det_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-10 for the 5 standard queries under the deterministic
    quantizer (m=4 sub-spaces, ks=16, ADC short-list refine*k=40,
    exact cosine re-rank) -- the oracle-checked twin of the rows-only
    numpy PQ path: LUT inner products, the exact-decimal ADC sums,
    the short-list boundary, and the final re-ranked cosines all
    replay bit-for-bit in SQL."""
    from ..operators.similarity import pq_search_coded

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes, books = _det_pq(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = pq_search_coded(
        emb, codes, books, queries, k=10, refine=_PQ_DET_REFINE
    )
    return out.orderBy("query_id", "rank")
