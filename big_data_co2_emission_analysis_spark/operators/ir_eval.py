"""Distributed retrieval-quality evaluation: recall@k, precision@k,
MRR@k, nDCG@k per query from a run table and a graded-relevance qrels
table -- the eval harness a RAG / retrieval pipeline runs after every
index or ranker change (TREC-style, computed as two keyed aggregates
instead of a per-query driver loop).

Inputs:

- ``runs``:  arm name -> (query_term, doc_id, rank) -- rank 1-based, one
  row per retrieved doc, already cut to the candidate depth.
- ``qrels``: (query_term, doc_id, rel)  -- graded relevance; docs absent from
  qrels are irrelevant, and rel <= 0 rows (TREC judged-irrelevant) are
  filtered out up front so they can't inflate the recall denominator.

Scale shape: the run->qrels join is keyed (query, doc) and 1:1; DCG /
MRR / hit counts are one map-side-combined groupBy over run rows; the
ideal-DCG ranking needs only the k best-rel qrels per query, so it
runs through ``grouped_topk``, whose partial per-group limit ships at
most k rows per query from each map task -- a corpus-sized qrels list
for a hot query (e.g. tf-derived relevance where a common term
matches most documents) never funnels whole into one task's sort.  No driver loop, no
collect: metrics for a million queries are one DataFrame.

Gain convention: DCG gain = 2^rel - 1, discount = log2(rank + 1)
(the standard "burges" nDCG).  rel is small-integer graded, so the
gain is exact; each gain/discount term is quantized to 9 dp and summed
in int64 fixed-point (queries/_exact.dsum) so the DCG sums are
order-independent across partitionings and engines, and the residual
per-term log ULP wobble is absorbed by rounding the reported metrics
to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries._exact import dsum

#: fixed-point scale for DCG term sums: values are O(1) per term, so
#: 9 dp keeps the int64 headroom at ~9.2e9 summed gain units -- far
#: beyond any per-query candidate list
DCG_SCALE = 9


def retrieval_metrics(
    runs: dict[str, DataFrame], qrels: DataFrame, k: int = 10
) -> DataFrame:
    """Per-(arm, query) retrieval metrics at depth ``k`` for one or more
    runs scored against ONE shared qrels:

    (retriever, query_term, n_rel, n_hit_k, recall_at_k, precision_at_k,
    mrr_at_k, ndcg_at_k).  ``runs`` maps an arm name to a run with
    columns (query_term, doc_id, rank); qrels carries (query_term,
    doc_id, rel).  All rates are 6-dp-rounded doubles.

    Per-arm work is limited to the hits join + one keyed aggregate over
    the (bounded, k-deep) run rows; the ideal-DCG ranking and the n_rel
    denominator depend only on qrels, so they compute once for all arms
    -- for tf-derived qrels, N per-arm harness calls would cost N extra
    corpus-scale ``grouped_topk`` passes.

    Every (arm, query) pair present in qrels appears in the output -- an
    arm that retrieved nothing for a query scores 0 (visible, not
    silently dropped), matching the TREC convention and the SQL
    oracles' ``retr CROSS JOIN nrel`` shape.
    """
    from ..functions.ranking import grouped_topk

    if not runs:
        raise ValueError("retrieval_metrics: `runs` must contain at least one arm")
    run = None
    for name, r in runs.items():
        missing = {"query_term", "doc_id", "rank"} - set(r.columns)
        if missing:
            raise ValueError(
                f"retrieval_metrics: run {name!r} lacks columns {sorted(missing)}"
            )
        # Project down to the three columns the harness reads so arms with
        # extra/score columns of differing names union cleanly.
        part = r.select("query_term", "doc_id", "rank").withColumn(
            "retriever", F.lit(name)
        )
        run = part if run is None else run.unionByName(part)

    gain = lambda c: F.pow(F.lit(2.0), F.col(c)) - F.lit(1.0)  # noqa: E731
    disc = lambda c: F.log2(F.col(c).cast("double") + F.lit(1.0))  # noqa: E731
    r6 = lambda c: F.round(c, 6)  # noqa: E731

    # standard TREC qrels carry rel=0 (judged-irrelevant) rows; the
    # metrics' contract is rel > 0 == relevant, so enforce it here --
    # otherwise rel<=0 rows silently inflate n_rel (the recall
    # denominator) while n_hit_k keeps counting only rel>0
    qrels = qrels.filter(F.col("rel") > 0)

    hits = (
        run.filter(F.col("rank") <= k)
        .join(qrels, ["query_term", "doc_id"], "left")
        .withColumn("__rel", F.coalesce(F.col("rel"), F.lit(0)))
    )
    per_run = hits.groupBy("retriever", "query_term").agg(
        F.sum((F.col("__rel") > 0).cast("long")).alias("n_hit_k"),
        dsum(gain("__rel") / disc("rank"), DCG_SCALE).alias("__dcg"),
        F.max(F.when(F.col("__rel") > 0, F.lit(1.0) / F.col("rank"))).alias("__rr"),
    )
    ideal = (
        grouped_topk(
            qrels,
            ["query_term"],
            [F.desc("rel"), F.asc("doc_id")],
            k,
            rank_col="__irank",
        )
        .groupBy("query_term")
        .agg(dsum(gain("rel") / disc("__irank"), DCG_SCALE).alias("__idcg"))
    )
    n_rel = qrels.groupBy("query_term").agg(F.count(F.lit(1)).alias("n_rel"))
    # the (arm, query) spine: every qrels query once per arm
    spine = n_rel.join(ideal, "query_term").withColumn(
        "retriever", F.explode(F.array(*[F.lit(a) for a in runs]))
    )
    n_hit = F.coalesce(F.col("n_hit_k"), F.lit(0))
    return spine.join(per_run, ["retriever", "query_term"], "left").select(
        "retriever",
        "query_term",
        "n_rel",
        n_hit.cast("long").alias("n_hit_k"),
        r6(n_hit.cast("double") / F.col("n_rel").cast("double")).alias("recall_at_k"),
        r6(n_hit.cast("double") / F.lit(float(k))).alias("precision_at_k"),
        r6(F.coalesce(F.col("__rr"), F.lit(0.0))).alias("mrr_at_k"),
        r6(
            F.when(
                F.col("__idcg") > 0,
                F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
            ).otherwise(F.lit(0.0))
        ).alias("ndcg_at_k"),
    )
