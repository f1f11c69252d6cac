"""BM25 scoring (functions/ranking.py): hand-computed scores, ordering
properties, tokenizer behavior."""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.functions.ranking import (
    bm25_per_term,
    bm25_scores,
    tokenize,
)

K1, B = 1.2, 0.75


def _bm25(tf, df, n, dl, avgdl, k1=K1, b=B):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "cat dog cat"),        # len 3
            (2, "dog bird"),           # len 2
            (3, "fish fish fish"),     # len 3
            (4, "cat bird fish dog"),  # len 4
        ],
        "doc_id long, text string",
    )


def test_hand_computed_scores(corpus):
    got = {r["doc_id"]: r for r in bm25_scores(corpus, ["cat"]).collect()}
    # N=4, avgdl=3.0; 'cat': df=2; doc1 tf=2 len=3, doc4 tf=1 len=4
    assert set(got) == {1, 4}
    assert got[1]["score"] == pytest.approx(_bm25(2, 2, 4, 3, 3.0), rel=1e-12)
    assert got[4]["score"] == pytest.approx(_bm25(1, 2, 4, 4, 3.0), rel=1e-12)
    assert got[1]["n_matched_terms"] == 1


def test_multi_term_sums_and_counts(corpus):
    got = {r["doc_id"]: r for r in bm25_scores(corpus, ["cat", "fish"]).collect()}
    assert got[4]["n_matched_terms"] == 2
    want = _bm25(1, 2, 4, 4, 3.0) + _bm25(1, 2, 4, 4, 3.0)  # cat df=2, fish df=2
    assert got[4]["score"] == pytest.approx(want, rel=1e-12)
    # doc3: only fish, tf=3
    assert got[3]["score"] == pytest.approx(_bm25(3, 2, 4, 3, 3.0), rel=1e-12)


def test_rarer_term_outranks_common_at_equal_tf(spark):
    df = spark.createDataFrame(
        [(i, "common filler") for i in range(1, 9)] + [(9, "rare common")],
        "doc_id long, text string",
    )
    scores = {
        (r["doc_id"], ): r["score"]
        for r in bm25_scores(df, ["rare"]).collect()
    }
    common = {r["doc_id"]: r["score"] for r in bm25_scores(df, ["common"]).collect()}
    # same tf=1, same doc length: rare term must score doc 9 higher
    assert scores[(9,)] > common[9]


def test_query_casefolded_and_empty_rejected(corpus):
    up = {r["doc_id"] for r in bm25_scores(corpus, ["CAT"]).collect()}
    assert up == {1, 4}
    with pytest.raises(ValueError, match="query_terms"):
        bm25_scores(corpus, [])


def test_no_match_returns_empty(corpus):
    assert bm25_scores(corpus, ["zebra"]).count() == 0


def test_tokenize_drops_empties(spark):
    df = spark.createDataFrame([("  a  b  ",)], "t string")
    toks = df.select(tokenize(F.col("t")).alias("x")).collect()[0]["x"]
    assert toks == ["a", "b"]


def test_bm25_plan_stays_native(corpus):
    """No Python-UDF boundary in the scoring plan."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    plan = explain_formatted(bm25_scores(corpus, ["cat", "dog"]))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the per-term frame is row-local after its slim checkpoint: no
    # doc-length join and no (doc, term) tf shuffle
    per = explain_formatted(bm25_per_term(corpus, ["cat", "dog"]))
    assert "SortMergeJoin" not in per
    assert not re.search(r"Exchange hashpartitioning\(__id", per), per


_ORACLE_DOCS = [
    (1, "cat dog cat"),
    (2, "Dog BIRD dog dog"),
    (3, ""),
    (4, "   "),
    (5, None),
    (6, "fish CAT  fish"),
    (7, "bird"),
    (8, "cat cat cat cat dog bird fish"),
]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_bm25_per_term_matches_duckdb_oracle(spark, ansi):
    """bm25_per_term agrees with the registry's SQL BM25 pipeline
    (``_bm25_ctes``) on a corpus with empty, blank and null texts,
    uppercase and repeated tokens and a repeated query term -- under
    both ANSI settings (with ANSI off, ``size(null)`` is -1).  N and
    avgdl count only documents with at least one token, as the SQL
    ``dl`` GROUP BY does."""
    import duckdb
    import pandas as pd

    from big_data_co2_emission_analysis_spark.queries.text_queries import _bm25_ctes

    terms = ["cat", "cat", "dog"]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        docs = spark.createDataFrame(_ORACLE_DOCS, "doc_id long, text string")
        got = sorted(
            (r.query_term, r.doc_id, r.tf, round(r.score, 9))
            for r in bm25_per_term(docs, terms).collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(_ORACLE_DOCS, columns=["doc_id", "text"]))
    want = sorted(
        (term, doc_id, tf, round(s, 9))
        for doc_id, term, tf, s in con.sql(
            f"WITH {_bm25_ctes(tuple(terms))} SELECT doc_id, term, tf, s FROM scored"
        ).fetchall()
    )
    assert len(want) == 6
    assert got == want


# -- RRF fusion (functions/ranking.py rrf_fuse / ranked_topn) ---------------


def test_ranked_topn_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(3, 1.0), (1, 1.0), (2, 2.0), (4, 0.5)], "doc_id long, score double"
    )
    out = {r.doc_id: r.rank for r in __import__(
        "big_data_co2_emission_analysis_spark.functions.ranking", fromlist=["ranked_topn"]
    ).ranked_topn(df, "score", n=3).collect()}
    # score desc, id asc: 2 -> 1, then tie (1.0): ids 1, 3
    assert out == {2: 1, 1: 2, 3: 3}


def test_rrf_fuse_hand_computed(spark):
    from big_data_co2_emission_analysis_spark.functions.ranking import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    sem = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    out = {r.doc_id: r for r in rrf_fuse({"lex": lex, "sem": sem}, k=60).collect()}
    assert out[10].rrf_score == round(1 / 61, 6)
    assert out[20].rrf_score == round(1 / 62 + 1 / 61, 6)
    assert out[30].rrf_score == round(1 / 62, 6)
    assert out[10].sem_rank is None and out[30].lex_rank is None
    assert out[20].lex_rank == 2 and out[20].sem_rank == 1


def test_rrf_fuse_requires_lists(spark):
    from big_data_co2_emission_analysis_spark.functions.ranking import rrf_fuse

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse({})


def test_grouped_topk_matches_direct_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.functions.ranking import grouped_topk

    rows = [(f"g{i % 5}", i, float((i * 37) % 101)) for i in range(1000)]
    df = spark.createDataFrame(rows, "grp string, id long, score double")
    order = [F.desc("score"), F.asc("id")]

    direct = (
        df.withColumn("rank", F.row_number().over(
            Window.partitionBy("grp").orderBy(*order)).cast("long"))
        .filter(F.col("rank") <= 7)
    )
    topk = grouped_topk(df, ["grp"], order, k=7)
    key = lambda r: (r.grp, r.rank)  # noqa: E731
    assert sorted(direct.collect(), key=key) == sorted(
        topk.select(*direct.columns).collect(), key=key
    )


def test_grouped_topk_rejects_bad_salt_and_fan(spark):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from big_data_co2_emission_analysis_spark.functions.ranking import grouped_topk

    df = spark.createDataFrame([("g", 1, 1.0)], "grp string, id long, score double")
    order = [F.desc("score"), F.asc("id")]
    threshold = int(spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold"))
    with _pytest.raises(ValueError, match="k must be"):
        grouped_topk(df, ["grp"], order, 0)
    # above the threshold Spark plans no partial limit: every row of a
    # group would shuffle into one task, so it is rejected loudly
    with _pytest.raises(ValueError, match="windowGroupLimitThreshold"):
        grouped_topk(df, ["grp"], order, threshold + 1)
    assert grouped_topk(df, ["grp"], order, threshold).count() == 1


def test_grouped_topk_single_exchange_with_partial_limit(spark):
    """One hash exchange, with a Partial WindowGroupLimit below it: each
    map task ships at most k rows per group."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.functions.ranking import grouped_topk

    rows = [(f"g{i % 3}", i, float(i % 13)) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, id long, score double")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = grouped_topk(df, ["grp"], [F.desc("score"), F.asc("id")], 5)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    lines = plan.splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    partial = [
        i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln
    ]
    assert len(exchanges) == 1, plan
    assert len(partial) == 1 and partial[0] > exchanges[0], plan


def test_grouped_topk_partition_invariance(spark):
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.functions.ranking import grouped_topk

    rows = [(f"g{i % 3}", i, float(i % 13)) for i in range(400)]
    df = spark.createDataFrame(rows, "grp string, id long, score double")
    order = [F.desc("score"), F.asc("id")]
    a = sorted(grouped_topk(df.repartition(1), ["grp"], order, 5).collect(), key=str)
    b = sorted(grouped_topk(df.repartition(11), ["grp"], order, 5).collect(), key=str)
    assert a == b
