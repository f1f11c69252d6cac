"""Bigram LM (operators/ngram_lm.py): hand-computed tiny-corpus
values, BOS semantics, empty-doc exclusion, partition invariance."""

import math

import pytest
from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.operators import ngram_lm
from big_data_co2_emission_analysis_spark.operators.ngram_lm import (
    BOS,
    bigram_lm_counts,
    doc_bigrams,
    score_docs_bigram_lm,
)


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "   "), (4, None)],
        "doc_id long, text string",
    )


def test_doc_bigrams_bos_and_adjacency(spark, tiny):
    rows = {
        (r.doc_id, r.v, r.w)
        for r in doc_bigrams(tiny).collect()
    }
    assert rows == {
        (1, BOS, "a"),
        (1, "a", "b"),
        (1, "b", "a"),
        (2, BOS, "a"),
        (2, "a", "b"),
    }


def test_counts_and_vocab(spark, tiny):
    counts, ctx, vocab = bigram_lm_counts(tiny)
    c = {(r.v, r.w): r.c_vw for r in counts.collect()}
    assert c == {(BOS, "a"): 2, ("a", "b"): 2, ("b", "a"): 1}
    x = {r.v: r.c_v for r in ctx.collect()}
    assert x == {BOS: 2, "a": 2, "b": 1}
    assert vocab.head().v_size == 2  # {a, b}; BOS never a successor


def test_scores_match_hand_computation(spark, tiny):
    # alpha=0.5, V=2: P(a|<s>)=(2+.5)/(2+1)=5/6, P(b|a)=(2+.5)/(2+1)=5/6,
    # P(a|b)=(1+.5)/(1+1)=3/4
    out = {r.doc_id: r for r in score_docs_bigram_lm(tiny, alpha=0.5).collect()}
    assert set(out) == {1, 2}  # blank + NULL docs produce no bigrams

    def q(x):  # the operator's 9-dp fixed-point quantization
        return math.trunc(x * 1e9 + math.copysign(0.5, x)) / 1e9

    lp_case1 = [math.log(5 / 6), math.log(5 / 6), math.log(3 / 4)]
    exp1 = sum(q(v) for v in lp_case1) / 3
    assert out[1].n_bigrams == 3
    assert out[1].avg_logprob == pytest.approx(round(exp1, 6), abs=1e-9)
    assert out[1].perplexity == pytest.approx(round(math.exp(-exp1), 6), abs=1e-9)

    lp_case2 = [math.log(5 / 6), math.log(5 / 6)]
    exp2 = sum(q(v) for v in lp_case2) / 2
    assert out[2].n_bigrams == 2
    assert out[2].avg_logprob == pytest.approx(round(exp2, 6), abs=1e-9)


def test_partition_invariance(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    a = score_docs_bigram_lm(docs.repartition(1)).collect()
    b = score_docs_bigram_lm(docs.repartition(7)).collect()
    key = lambda r: r.doc_id
    assert sorted(a, key=key) == sorted(b, key=key)


def test_unseen_bigram_gets_smoothed_floor(spark):
    # two docs; doc 2 ends with a bigram unseen elsewhere -> its prob
    # uses c_vw for its own occurrence (counts include the whole
    # corpus, so a bigram unique to one doc has c_vw = 1, never 0 when
    # scoring the training corpus itself)
    docs = spark.createDataFrame(
        [(1, "x y"), (2, "x z")], "doc_id long, text string"
    )
    counts, ctx, vocab = bigram_lm_counts(docs)
    assert vocab.head().v_size == 3  # {x, y, z}
    out = {r.doc_id: r.avg_logprob for r in score_docs_bigram_lm(docs).collect()}
    # symmetric corpus: both docs score identically
    assert out[1] == out[2]


def _scored(docs):
    return sorted(
        (r.doc_id, r.n_bigrams, r.avg_logprob, r.perplexity)
        for r in score_docs_bigram_lm(docs).collect()
    )


def test_ctx_join_strategies_agree_and_gate_the_plan(spark, sf_dir, monkeypatch):
    """The vocabulary-sized ctx table must not be force-broadcast
    (VERDICT r4 #4): within the measured envelope the count/ctx tables
    broadcast, above it (envelope forced to 0) they take the
    shuffle-hash shape -- and both sides produce identical values."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    forced = explain_formatted(score_docs_bigram_lm(docs))
    broadcast_rows = _scored(docs)
    monkeypatch.setattr(ngram_lm, "_BROADCAST_MAX_BIGRAMS", 0)
    shuffled = explain_formatted(score_docs_bigram_lm(docs))
    shuffle_rows = _scored(docs)
    assert broadcast_rows == shuffle_rows
    assert broadcast_rows, "fixture produced no scored docs"

    # the shuffle side must plan the ctx join as a shuffle join; the
    # unhinted vocab cross join stays size-gated by Catalyst, so
    # compare broadcast counts across the sides rather than demanding
    # zero broadcasts
    assert "ShuffledHashJoin" in shuffled or "SortMergeJoin" in shuffled
    # formatted explain prints each node in the tree AND the detail
    # section, so one fewer join = a strictly smaller count
    assert shuffled.count("BroadcastHashJoin") < forced.count("BroadcastHashJoin")


def test_ctx_join_auto_uses_measured_envelope(spark, sf_dir, monkeypatch):
    """r9 contract: the join shape is decided from the MEASURED
    bigram-count cardinality, not an estimate.  Within
    ``_BROADCAST_MAX_BIGRAMS`` the count/ctx tables broadcast (the
    scoring stream never shuffles); above the envelope it degrades to
    the web-corpus shuffle shape -- same fallback contract as the
    streaming-dedup ``_BROADCAST_MAX_FPS``.  This subsumes the old
    ADVICE-r5 AQE degrade rule: an exact count is safe with AQE on OR
    off, and unlike AQE's gate it is not fooled by pre-aggregation
    exchange bytes (at sf10 AQE sized the counts join by the ~97 MiB
    partial exchange instead of the 96k-row table and shuffled a
    ~650 MiB stream; module docstring)."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)

    # within the envelope: broadcast shape
    small_plan = explain_formatted(score_docs_bigram_lm(docs))
    assert "BroadcastHashJoin" in small_plan

    # r10 byte gate: a row count within _BROADCAST_MAX_BIGRAMS but an
    # estimated size above _BROADCAST_MAX_BYTES must ALSO degrade --
    # the forced broadcast bypasses autoBroadcastJoinThreshold, so the
    # envelope has to carry the byte-level safety itself
    with monkeypatch.context() as m:
        m.setattr(ngram_lm, "_BROADCAST_MAX_BYTES", 0)
        byte_plan = explain_formatted(score_docs_bigram_lm(docs))

    # above the row envelope: the shuffle shape
    monkeypatch.setattr(ngram_lm, "_BROADCAST_MAX_BIGRAMS", 0)
    over_plan = explain_formatted(score_docs_bigram_lm(docs))
    assert "ShuffledHashJoin" in over_plan or "SortMergeJoin" in over_plan
    assert over_plan.count("BroadcastHashJoin") < small_plan.count(
        "BroadcastHashJoin"
    )
    assert byte_plan.count("BroadcastHashJoin") == over_plan.count(
        "BroadcastHashJoin"
    )
    want = _scored(docs)

    # the measured gate must hold with AQE OFF too (no estimate-based
    # broadcast may sneak back in above the envelope)
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        no_aqe_plan = explain_formatted(score_docs_bigram_lm(docs))
        vals = _scored(docs)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ShuffledHashJoin" in no_aqe_plan or "SortMergeJoin" in no_aqe_plan
    assert vals == want and vals


def test_auto_broadcast_keeps_stream_unshuffled_and_counts_cached(spark, sf_dir):
    """The r9 structural contract: within the broadcast envelope the
    27M-row scoring stream must NOT hash-exchange on (v, w) (at sf10
    that exchange was ~650 MiB), and the count table must be served
    from the cache (one explode+agg materialization, not three)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    df = score_docs_bigram_lm(docs)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, "count table not served from cache"
    assert "hashpartitioning(v#" not in plan and "hashpartitioning(w#" not in plan, (
        "the bigram scoring stream is being shuffled inside the broadcast envelope"
    )
    assert plan.count("BroadcastHashJoin") >= 2  # counts join + ctx join


def test_n_bigrams_counts_nonempty_tokens_on_whitespace_edges(spark):
    """The curated_corpus_v4 token gate rides the LM's n_bigrams, so
    n_bigrams must equal the count of NON-EMPTY whitespace tokens even
    for docs with leading/trailing tabs/newlines (the r9 ADVICE finding:
    a raw STRING_SPLIT_REGEX(TRIM(text)) count includes the empty
    fragment such edges produce -- TRIM strips spaces only -- and would
    flip gate decisions on 20/2000-boundary docs).  Pins BOTH sides:
    Spark n_bigrams == DuckDB LIST_FILTER non-empty count, and the raw
    split count genuinely differs on these fixtures (i.e. the test
    would catch a regression to the old oracle expression)."""
    import duckdb

    texts = [
        (1, "\t" + " ".join(f"w{i}" for i in range(19))),        # 19 real + 1 empty
        (2, " ".join(f"w{i}" for i in range(20)) + "\n"),        # 20 real + 1 empty
        (3, "a\t\tb\nc"),                                        # internal runs: 3
        (4, " ".join(f"w{i}" for i in range(25))),               # clean: 25
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r.doc_id: r.n_bigrams for r in score_docs_bigram_lm(docs).collect()}

    con = duckdb.connect()
    oracle = {
        doc_id: (n_filtered, n_raw)
        for doc_id, n_filtered, n_raw in con.execute(
            r"""
            SELECT doc_id,
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                                   t -> t <> '')) AS n_filtered,
                   LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_raw
            FROM (SELECT UNNEST($rows, recursive := true))
            """,
            {"rows": [{"doc_id": d, "text": t} for d, t in texts]},
        ).fetchall()
    }
    assert {d: n for d, (n, _) in oracle.items()} == got == {1: 19, 2: 20, 3: 3, 4: 25}
    # the raw count must actually diverge on the edge docs, or this
    # test would not guard the oracle expression
    assert oracle[1][1] == 20 and oracle[2][1] == 21
