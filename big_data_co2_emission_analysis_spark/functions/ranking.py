"""BM25 relevance scoring over a document corpus -- the retrieval-side
text operator (quality-weighted corpus selection / dedup-cluster
ranking both want a lexical relevance score next to the embedding
path in operators/similarity.py).

Everything is native Catalyst expressions: tokenize = split+explode,
stats = two tiny aggregates, score = codegen'd arithmetic.  No Python
boundary.

Scale shape: doc length is a pure map (size(split(...))), the term
frequencies shuffle once on (doc, term) AFTER filtering to the query's
terms (so the shuffled volume scales with matches, not corpus), the
per-term document frequencies reduce to |query| rows and broadcast,
and the final per-doc sum shuffles only matched docs.  The full-corpus
N / avgdl statistics are one scalar row broadcast into the plan.
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
    the per-term retrieval-eval run builder.

    The corpus tokenize runs ONCE (r12): doc length, corpus stats and
    the term stream are three plan branches, and Catalyst does not
    share common subtrees across branches -- the un-checkpointed shape
    re-ran the full regex tokenize 3x per action (measured at sf0.1:
    whole frame 1.4 s vs 0.6 s for a single tokenize pass).  The slim
    projection below keeps one row per doc with its length and ONLY
    the matched tokens (|terms| is query-sized, so the array filter
    drops ~every token), eagerly checkpointed: ~24 B/doc, linear --
    the curated_corpus_v4 single-build pattern.  Build-time side
    effect for plan-only consumers as documented there.  The
    checkpoint pins one block per call; ``session.release_pinned``
    frees it."""
    base = docs.select(
        F.col(id_col).alias("__id"), tokenize(F.col(text_col)).alias("__toks")
    )
    slim = base.select(
        "__id",
        F.size("__toks").alias("__len"),
        F.filter("__toks", lambda t: t.isin(*terms)).alias("__m"),
    ).localCheckpoint(eager=True)
    dl = slim.select("__id", "__len")

    # corpus scalars: exact integer sum / count division
    stats = dl.agg(
        F.count("*").alias("__n"),
        (F.sum("__len").cast("double") / F.count("*")).alias("__avgdl"),
    )

    toks = slim.select("__id", F.explode("__m").alias("__term"))
    tf = toks.groupBy("__id", "__term").agg(F.count("*").alias("__tf"))
    dfreq = toks.groupBy("__term").agg(F.count_distinct("__id").alias("__df"))

    return (
        tf.join(F.broadcast(dfreq), "__term")
        .join(dl, "__id")
        .join(F.broadcast(stats))
        .select(
            "__id",
            "__term",
            "__tf",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("__df") + F.lit(0.5))
                    / (F.col("__df") + F.lit(0.5))
                )
                * (F.col("__tf") * F.lit(k1 + 1.0))
                / (
                    F.col("__tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("__len") / F.col("__avgdl")
                    )
                )
            ).alias("__s"),
        )
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
    salt_on: list[str],
    rank_col: str = "rank",
    fan: int = 32,
) -> DataFrame:
    """Per-group top-``k`` with bounded sorts: a two-level tournament
    instead of one ``row_number`` window per group.

    A direct ``Window.partitionBy(group)`` ranks each group in ONE
    task — with few groups over a large table (6 query terms over a
    corpus) that is a handful of corpus-sized single-partition sorts.
    Here level 1 splits every group into ``fan`` deterministic salt
    lanes (hash of ``salt_on``), keeps k per lane, and level 2 ranks
    the surviving ``fan * k`` rows per group — bounded regardless of
    group size.  Value-identical to the direct window provided
    ``order_cols`` is a total order (give it a unique tie-break
    column) and lane assignment is deterministic per row.

    ``salt_on`` is REQUIRED and must vary within a group (typically
    the unique tie-break id): hashing only group-constant columns
    would put every row of a group in one lane, silently degenerating
    level 1 back into the single-task whole-group sort this function
    exists to avoid — so that is rejected loudly.
    """
    from pyspark.sql import Window

    if fan < 1:
        # pmod(x, 0) is null: every row would land in one null lane and
        # level 1 silently degenerates into the single-task sort this
        # function exists to avoid (results correct, scale bound gone)
        raise ValueError(f"fan must be >= 1, got {fan}")
    if not salt_on:
        raise ValueError("salt_on must name at least one within-group-varying column")
    if set(salt_on) <= set(group_cols):
        raise ValueError(
            f"salt_on {salt_on} is a subset of group_cols {group_cols}: the lane "
            "hash would be constant within every group (no spread); pass a "
            "row-identifying column such as the order tie-break id"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_on]), F.lit(fan))
    w1 = Window.partitionBy(*group_cols, "__lane").orderBy(*order_cols)
    cand = (
        df.withColumn("__lane", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__lane", "__r1")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        cand.withColumn(rank_col, F.row_number().over(w2).cast("long"))
        .filter(F.col(rank_col) <= k)
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
