"""BM25 relevance scoring over a document corpus -- the retrieval-side
text operator (quality-weighted corpus selection / dedup-cluster
ranking both want a lexical relevance score next to the embedding
path in operators/similarity.py).

Everything is native Catalyst expressions: tokenize = split + array
filter, stats = one tiny aggregate, score = codegen'd arithmetic.  No
Python boundary.

Scale shape: one row per doc carries its length and its matched
tokens, so doc length and every (doc, term) tf are pure maps over that
row -- nothing shuffles on doc or (doc, term).  N, avgdl and the
per-term document frequencies are ONE aggregate (a single row: two
scalars and a |query|-entry map) broadcast into the plan, and the
final per-doc sum of ``bm25_scores`` shuffles only matched docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize(text_col) -> "F.Column":
    """Lower + whitespace split + drop empties; the shared tokenizer
    for BM25 and the text-analysis token counts."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def _bm25_scored_frame(
    docs: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """(__id, __term, __tf, __s): the per-(doc, term) BM25 partial
    before the per-document sum -- shared by the multi-term scorer and
    the per-term retrieval-eval run builder.  ``id_col`` must be a key
    of ``docs`` (the SQL oracle's ``GROUP BY doc_id`` assumes it too).

    The corpus tokenize runs ONCE (r12): the stats and the term stream
    are two plan branches and Catalyst shares no subtree across them,
    so the slim projection -- one row per doc with its length and ONLY
    the matched tokens -- is eagerly checkpointed: ~24 B/doc, linear --
    the curated_corpus_v4 single-build pattern (a build-time job;
    ``session.release_pinned`` frees its block).  After it everything
    is row-local -- tf counts the term in the doc's own ``__m`` -- and
    N, avgdl and each term's df are ONE broadcast aggregate.  N and
    avgdl count only docs with at least one token (Lucene's docCount,
    and the oracle's ``dl``)."""
    terms = list(dict.fromkeys(terms))  # a repeated map key would raise
    base = docs.select(
        F.col(id_col).alias("__id"), tokenize(F.col(text_col)).alias("__toks")
    )
    slim = base.select(
        "__id",
        F.size("__toks").alias("__len"),
        F.filter("__toks", lambda t: t.isin(*terms)).alias("__m"),
    ).localCheckpoint(eager=True)

    # corpus scalars (exact integer sum / count division) + df per term
    has_toks = F.col("__len") > 0
    dfs = [x for t in terms for x in (F.lit(t), F.count_if(F.array_contains("__m", t)))]
    stats = slim.agg(
        F.count_if(has_toks).alias("__n"),
        (F.sum(F.when(has_toks, F.col("__len"))).cast("double") / F.count_if(has_toks))
        .alias("__avgdl"),
        F.create_map(*dfs).alias("__dfs"),
    )
    tf = slim.select(
        "__id", "__len", "__m", F.explode(F.array_distinct("__m")).alias("__term")
    ).select(
        "__id",
        "__len",
        "__term",
        F.size(F.filter("__m", lambda t: t == F.col("__term")))
        .cast("long")
        .alias("__tf"),
    )

    n, df = F.col("__n"), F.element_at("__dfs", F.col("__term"))
    idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
    dl, avgdl = F.col("__len"), F.col("__avgdl")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    score = idf * (F.col("__tf") * F.lit(k1 + 1.0)) / (F.col("__tf") + norm)
    return tf.join(F.broadcast(stats)).select(
        "__id", "__term", "__tf", score.alias("__s")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score, n_matched_terms) for every document matching at
    least one query term; score = sum over matched terms of

        ln(1 + (N - df + 0.5)/(df + 0.5))          -- BM25+ IDF
        * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))

    with N = corpus size, df = docs containing the term, len = doc
    token count, avgdl = mean token count (exact integer-sum / count).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    scored = _bm25_scored_frame(docs, terms, id_col, text_col, k1, b)
    return scored.groupBy("__id").agg(
        F.sum("__s").alias("score"), F.count("*").alias("n_matched_terms")
    ).select(F.col("__id").alias(id_col), "score", "n_matched_terms")


def bm25_per_term(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(query_term, id, tf, score): each query term treated as its own
    single-term query -- the run builder for retrieval evaluation
    (operators/ir_eval.py), where every term is one evaluated query."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    return _bm25_scored_frame(docs, terms, id_col, text_col, k1, b).select(
        F.col("__term").alias("query_term"),
        F.col("__id").alias(id_col),
        F.col("__tf").cast("long").alias("tf"),
        F.col("__s").alias("score"),
    )


def ranked_topn(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n: int = 100,
    descending: bool = True,
) -> DataFrame:
    """(id, rank) for the top-``n`` rows by ``score_col`` (ties broken
    by ascending id -- fully deterministic across engines).

    Scale shape: the top-n cut is ``orderBy + limit``
    (TakeOrderedAndProject: per-partition heap + driver merge, never a
    global sort), and only THEN does a row_number window run -- over at
    most ``n`` rows, so the single-partition window is driver-bounded
    by construction.  This is the standard fuse-per-retriever-list
    shape: RRF combines bounded candidate lists, not full corpora.
    """
    from pyspark.sql import Window

    order = [
        F.col(score_col).desc() if descending else F.col(score_col).asc(),
        F.col(id_col).asc(),
    ]
    top = df.orderBy(*order).limit(n)
    w = Window.orderBy(*order)
    return top.select(
        id_col, F.row_number().over(w).cast("long").alias("rank")
    )


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-``k``: ``row_number`` over
    ``partitionBy(group).orderBy(order)``, filtered at ``<= k``, as a
    long ``rank_col``.  Deterministic provided ``order_cols`` is a
    total order (give it a unique tie-break column).

    Scale shape: Spark plans the filtered window as a Partial
    ``WindowGroupLimit`` below the one hash exchange on the group keys
    and a Final one above it, so each map task ships at most ``k`` rows
    per group -- a corpus-sized group (6 query terms over a corpus)
    never funnels whole into one task's sort.  The optimizer only
    inserts the limit for ``k`` up to the session's
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000),
    so a larger ``k`` is rejected rather than silently shuffling every
    row.
    """
    from pyspark.sql import Window

    threshold = int(
        df.sparkSession.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    )
    if not 1 <= k <= threshold:
        raise ValueError(
            f"k must be in [1, {threshold}] "
            f"(spark.sql.optimizer.windowGroupLimitThreshold), got {k}"
        )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .withColumn(rank_col, F.col(rank_col).cast("long"))
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Reciprocal Rank Fusion over named (id, rank) candidate lists:

        rrf_score(d) = sum over lists L of 1 / (k + rank_L(d))

    with documents absent from a list contributing nothing (the
    standard RRF convention).  Returns (id, rrf_score, <name>_rank...)
    with per-list ranks kept for interpretability; ``rrf_score`` is
    rounded to 6 dp.

    ``group_cols`` fuses MANY queries at once: each input then carries
    per-group ranks (e.g. from :func:`grouped_topk`) and lists are
    joined on ``group_cols + [id_col]`` -- the multi-query eval-harness
    shape, one DataFrame for a million queries.

    Determinism: each term ``1/(k + rank)`` is one IEEE division on an
    integer rank and the terms are added in the (fixed) dict order of
    ``rankings`` -- bit-identical on any engine, so the fusion is
    fully oracle-able.

    Scale shape: inputs are bounded candidate lists (see
    :func:`ranked_topn` / :func:`grouped_topk`), so the full-outer
    joins move at most ``n * len(rankings)`` rows per group.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    keys = [*group_cols, id_col]
    fused = None
    for name, df in rankings.items():
        side = df.select(
            *keys, F.col("rank").cast("long").alias(f"{name}_rank")
        )
        fused = side if fused is None else fused.join(side, keys, "full_outer")
    terms = [
        F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"{name}_rank")).cast("double"),
            F.lit(0.0),
        )
        for name in rankings
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return fused.select(
        *keys,
        F.round(score, 6).alias("rrf_score"),
        *[f"{name}_rank" for name in rankings],
    )
