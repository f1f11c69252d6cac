"""Retrieval-eval operator (operators/ir_eval.py): hand-computed
recall/precision/MRR/nDCG on tiny run+qrels tables, zero-row edges,
depth cut, the multi-arm spine, and the three eval rows (BM25, hybrid,
ANN) against their DuckDB oracles at sf0.001."""

import math

import pytest

from big_data_co2_emission_analysis_spark.operators.ir_eval import retrieval_metrics


def _run(spark, rows):
    return spark.createDataFrame(rows, "query_term string, doc_id long, rank long")


def _qrels(spark, rows):
    return spark.createDataFrame(rows, "query_term string, doc_id long, rel int")


def _metrics(run, qrels, k):
    """Single-arm harness call, without the arm column."""
    return retrieval_metrics({"run": run}, qrels, k=k).drop("retriever")


def test_metrics_hand_computed(spark):
    # run for q: d9 (irrelevant), d1 (rel 3), d3 (rel 2); qrels has d2 too
    run = _run(spark, [("q", 9, 1), ("q", 1, 2), ("q", 3, 3)])
    qrels = _qrels(spark, [("q", 1, 3), ("q", 2, 1), ("q", 3, 2)])
    out = _metrics(run, qrels, k=3).collect()[0]

    assert out.n_rel == 3
    assert out.n_hit_k == 2
    assert out.recall_at_k == pytest.approx(2 / 3, abs=1e-6)
    assert out.precision_at_k == pytest.approx(2 / 3, abs=1e-6)
    assert out.mrr_at_k == pytest.approx(1 / 2, abs=1e-6)
    dcg = 7 / math.log2(3) + 3 / math.log2(4)
    idcg = 7 / math.log2(2) + 3 / math.log2(3) + 1 / math.log2(4)
    assert out.ndcg_at_k == pytest.approx(dcg / idcg, abs=1e-5)


def test_no_relevant_retrieved_scores_zero(spark):
    run = _run(spark, [("q", 8, 1), ("q", 9, 2)])
    qrels = _qrels(spark, [("q", 1, 2)])
    out = _metrics(run, qrels, k=2).collect()[0]
    assert out.n_hit_k == 0
    assert out.recall_at_k == 0.0
    assert out.mrr_at_k == 0.0
    assert out.ndcg_at_k == 0.0


def test_query_with_empty_run_still_reported(spark):
    run = _run(spark, [("a", 1, 1)])
    qrels = _qrels(spark, [("a", 1, 1), ("b", 2, 3)])
    out = {r.query_term: r for r in _metrics(run, qrels, k=5).collect()}
    assert set(out) == {"a", "b"}
    assert out["b"].n_hit_k == 0
    assert out["b"].ndcg_at_k == 0.0
    assert out["a"].recall_at_k == pytest.approx(1.0)
    assert out["a"].mrr_at_k == pytest.approx(1.0)
    assert out["a"].ndcg_at_k == pytest.approx(1.0)


def test_depth_cut_ignores_ranks_past_k(spark):
    # the only relevant doc sits at rank 3, but k=2 cuts it
    run = _run(spark, [("q", 8, 1), ("q", 9, 2), ("q", 1, 3)])
    qrels = _qrels(spark, [("q", 1, 2)])
    out = _metrics(run, qrels, k=2).collect()[0]
    assert out.n_hit_k == 0
    assert out.mrr_at_k == 0.0


def test_perfect_ranking_ndcg_is_one(spark):
    run = _run(spark, [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)])
    qrels = _qrels(spark, [("q", 1, 3), ("q", 2, 2), ("q", 3, 1)])
    out = _metrics(run, qrels, k=3).collect()[0]
    assert out.ndcg_at_k == pytest.approx(1.0, abs=1e-6)
    assert out.recall_at_k == pytest.approx(1.0)
    assert out.precision_at_k == pytest.approx(1.0)


def test_rel_zero_qrels_rows_are_ignored(spark):
    # TREC qrels commonly carry rel=0 (judged-irrelevant) rows: they
    # must not inflate n_rel / the recall denominator, nor change the
    # ideal ranking -- metrics equal those computed without them
    run = _run(spark, [("q", 9, 1), ("q", 1, 2), ("q", 3, 3)])
    clean = _qrels(spark, [("q", 1, 3), ("q", 2, 1), ("q", 3, 2)])
    judged = _qrels(
        spark,
        [("q", 1, 3), ("q", 2, 1), ("q", 3, 2), ("q", 9, 0), ("q", 42, 0)],
    )
    a = sorted(_metrics(run, clean, k=3).collect())
    b = sorted(_metrics(run, judged, k=3).collect())
    assert a == b
    assert b[0].n_rel == 3  # not 5


def test_all_rel_zero_query_not_reported(spark):
    # a query judged entirely irrelevant has no recall denominator --
    # it is dropped rather than reported with n_rel inflated to its
    # judged-irrelevant count
    run = _run(spark, [("a", 1, 1)])
    qrels = _qrels(spark, [("a", 1, 1), ("z", 2, 0)])
    out = {r.query_term for r in _metrics(run, qrels, k=5).collect()}
    assert out == {"a"}


def test_hybrid_prf_beats_bm25_on_planted_fixture(spark):
    """Retrieval eval as a pipeline gate: on a corpus planted so that a
    highly relevant document (tf=3 but very long, so BM25's length
    normalization buries it below every tf=1 doc) is embedding-close to
    the lexical #1 doc, the PRF-hybrid retriever must recover it into
    the top-10 and score a strictly better nDCG@10 than BM25 alone."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.functions.ranking import (
        bm25_per_term,
        grouped_topk,
    )
    from big_data_co2_emission_analysis_spark.queries.text_queries import (
        _prf_hybrid_run,
    )

    rows = [(1, "zebra zebra zebra alpha beta")]  # short, tf=3: lexical #1
    for i in range(2, 15):  # 13 tf=1 docs fill the lexical top-10
        rows.append((i, "zebra " + " ".join(f"w{i}x{j}" for j in range(7))))
    rows.append((99, "zebra zebra zebra " + " ".join(f"q{j}" for j in range(200))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    emb_rows = [(1, [1.0, 0.0, 0.0, 0.0]), (99, [0.95, 0.05, 0.0, 0.0])]
    for i in range(2, 15):
        emb_rows.append((i, [0.5, 0.5 + i * 0.01, i * 0.01, 0.0]))
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")

    run_h, qrels = _prf_hybrid_run(docs, emb, terms=("zebra",), k=10)
    per = bm25_per_term(docs, ["zebra"])
    run_b = grouped_topk(
        per.select("query_term", "doc_id", F.round("score", 6).alias("__s")),
        ["query_term"],
        [F.desc("__s"), F.asc("doc_id")],
        k=10,
    ).select("query_term", "doc_id", "rank")

    mb = _metrics(run_b, qrels, k=10).collect()[0]
    mh = _metrics(run_h, qrels, k=10).collect()[0]
    hybrid_docs = {r.doc_id for r in run_h.collect()}
    assert 99 not in {r.doc_id for r in run_b.collect()}  # BM25 buries it
    assert 99 in hybrid_docs  # the semantic arm recovers it
    assert 1 in hybrid_docs  # without losing the lexical best hit
    assert mh.ndcg_at_k > mb.ndcg_at_k
    assert mh.recall_at_k >= mb.recall_at_k


def test_partition_invariance(spark):
    rows_run = [("q%d" % (i % 7), i, (i % 9) + 1) for i in range(200)]
    rows_qrels = [("q%d" % (i % 7), i, (i % 4)) for i in range(0, 200, 3)]
    rows_qrels = [(q, d, r) for q, d, r in rows_qrels if r > 0]
    run, qrels = _run(spark, rows_run), _qrels(spark, rows_qrels)
    a = sorted(
        _metrics(run.repartition(1), qrels.repartition(1), k=5).collect()
    )
    b = sorted(
        _metrics(run.repartition(13), qrels.repartition(7), k=5).collect()
    )
    assert a == b


def test_ann_eval_metrics_shape_and_bounds(spark):
    """ann_eval_metrics scores all three retrievers over every eval
    term: 3 x 6 rows, rates in [0, 1], and the exact arm's n_hit_k
    must equal a directly-computed brute-force top-10 hit count (the
    harness scores the run it was given, nothing else)."""
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.queries.text_queries import (
        _EVAL_TERMS,
        ann_eval_metrics,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = ann_eval_metrics(spark, sf_dir).collect()
    assert len(rows) == 3 * len(_EVAL_TERMS)
    by_arm = {}
    for r in rows:
        by_arm.setdefault(r.retriever, set()).add(r.query_term)
        for m in ("recall_at_k", "precision_at_k", "mrr_at_k", "ndcg_at_k"):
            assert 0.0 <= r[m] <= 1.0, (r.retriever, r.query_term, m, r[m])
        assert r.n_rel > 0
    assert set(by_arm) == {"exact", "ivf_det", "pq_det"}
    assert all(terms == set(_EVAL_TERMS) for terms in by_arm.values())


def test_ann_eval_metrics_build_jobs_keep_caller_job_group(spark):
    """The two checkpoints ann_eval_metrics builds on worker threads run
    under the caller's job group: no job of the build escapes it."""
    from big_data_co2_emission_analysis_spark.queries.text_queries import ann_eval_metrics

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ann-eval-build", "ann_eval_metrics build")
    try:
        ann_eval_metrics(spark, "/root/testdata/sf0.001")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("ann-eval-build")
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_multi_arm_metrics_match_per_arm_calls(spark):
    """A multi-arm call must equal N single-arm calls (ideal/n_rel are
    computed once instead of per arm): identical rows for every (arm,
    query), including an arm that retrieved nothing for some query and
    an arm whose run is empty (all-zero rows, not dropped ones)."""
    rows_qrels = [("q%d" % (i % 5), i, (i % 4)) for i in range(0, 150, 2)]
    rows_qrels = [(q, d, r) for q, d, r in rows_qrels if r > 0]
    qrels = _qrels(spark, rows_qrels)
    runs = {
        "good": _run(spark, [("q%d" % (i % 5), i, (i % 8) + 1) for i in range(120)]),
        # arm that never retrieves for q4 -> must still get q4 rows (zeros)
        "narrow": _run(
            spark,
            [("q%d" % (i % 4), i * 2, (i % 6) + 1) for i in range(80)],
        ),
        # arm that retrieved nothing at all -> one all-zero row per query
        "empty": _run(spark, []),
    }
    multi = {
        (r.retriever, r.query_term): r.asDict()
        for r in retrieval_metrics(runs, qrels, k=5).collect()
    }
    for arm, run in runs.items():
        for r in retrieval_metrics({arm: run}, qrels, k=5).collect():
            assert multi[(arm, r.query_term)] == r.asDict(), (arm, r.query_term)
    # every (arm, qrels-query) pair present
    assert set(multi) == {(a, "q%d" % i) for a in runs for i in range(5)}
    for i in range(5):
        row = multi[("empty", "q%d" % i)]
        assert row["n_rel"] == multi[("good", "q%d" % i)]["n_rel"] > 0
        assert row["n_hit_k"] == 0
        for m in ("recall_at_k", "precision_at_k", "mrr_at_k", "ndcg_at_k"):
            assert row[m] == 0.0, (i, m, row[m])


def test_multi_arm_rejects_empty_and_malformed_runs(spark):
    """Guard rails: empty runs dict and a run missing a required
    column both fail with a clear ValueError instead of an
    AttributeError / opaque unionByName analysis error; a run carrying
    EXTRA columns (scores, debug cols) is projected down and unions
    cleanly with a bare run."""
    from pyspark.sql import functions as F

    qrels = _qrels(spark, [("q0", 1, 2), ("q0", 2, 1)])
    with pytest.raises(ValueError, match="at least one arm"):
        retrieval_metrics({}, qrels)
    bad = _run(spark, [("q0", 1, 1)]).drop("rank")
    with pytest.raises(ValueError, match="lacks columns.*rank"):
        retrieval_metrics({"a": bad}, qrels)
    plain = _run(spark, [("q0", 1, 1), ("q0", 2, 2)])
    extra = plain.withColumn("score", F.lit(0.5)).withColumn("dbg", F.lit("x"))
    out = retrieval_metrics({"plain": plain, "extra": extra}, qrels, k=5)
    rows = {(r.retriever, r.query_term): r for r in out.collect()}
    assert rows[("plain", "q0")].asDict() != {}
    a = rows[("plain", "q0")].asDict()
    b = rows[("extra", "q0")].asDict()
    a.pop("retriever"), b.pop("retriever")
    assert a == b


def test_eval_rows_match_duckdb_oracle(spark, sf_dir):
    """The three eval rows agree with their registry oracles in DuckDB:
    same columns, row count and canonical values (the check_oracle
    comparison, run in tier-1 for the rows sharing one metric
    template)."""
    import duckdb

    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import release_pinned
    from tools.check_oracle import canon

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = all_queries()
    for name in ("bm25_eval_metrics", "hybrid_eval_metrics", "ann_eval_metrics"):
        release_pinned(spark)
        sdf = qs[name].fn(spark, sf_dir)
        cols = sorted(sdf.columns)
        srows = [r.asDict() for r in sdf.collect()]
        ddf = con.sql(qs[name].oracle)
        drows = [dict(zip(ddf.columns, r)) for r in ddf.fetchall()]
        assert sorted(ddf.columns) == cols, name
        assert len(srows) == len(drows) > 0, name
        assert canon(srows, cols) == canon(drows, cols), name
