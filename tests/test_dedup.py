"""Planted-duplicate tests for the near-dup operators: MinHash+LSH,
SimHash, n-gram Jaccard, fingerprint dedup, embedding-cosine pairs.

The sf fixtures are random word salad (no real near-dups), so semantics
are pinned here with corpora where the ground truth is known.
"""

import pytest
from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.operators.dedup import (
    embedding_near_dup_pairs,
    fingerprint_dedup,
    hamming64,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash64,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun near the garden"
)
NEAR = BASE.replace("afternoon", "evening")  # one token changed
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution and shuffles"
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE)], "doc_id long, text string"
    )


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = df.select(word_shingles("t", 3).alias("s")).collect()[0]["s"]
    assert out == ["a b c", "b c d"]


def test_minhash_finds_planted_pairs(corpus):
    pairs = minhash_near_dup_pairs(corpus, "doc_id", "text", max_jaccard_distance=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard_distance"] for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)] == 0.0  # exact dup
    assert (0, 1) in got and got[(0, 1)] < 0.5  # near dup
    assert (0, 2) not in got and (1, 2) not in got  # unrelated


def test_simhash_distance_ordering(corpus):
    sigs = {r["doc_id"]: r["sig"] for r in corpus.select("doc_id", simhash64("text").alias("sig")).collect()}
    assert sigs[0] == sigs[3]  # identical text -> identical signature
    spark = corpus.sparkSession
    d = spark.createDataFrame([(sigs[0], sigs[1], sigs[2])], "a long, b long, c long")
    row = d.select(
        hamming64(F.col("a"), F.col("b")).alias("near"),
        hamming64(F.col("a"), F.col("c")).alias("far"),
    ).collect()[0]
    assert row["near"] < row["far"]
    assert row["near"] <= 12  # one-token edit flips few bits
    assert row["far"] >= 20


def test_simhash_frame_parity_with_column_form(spark):
    """The mapInArrow signing kernel (simhash64_frame) must be
    bit-identical to the Column form on every edge: normal docs, exact
    dups, single-word text (no bigram shingles -> 0), empty text (0),
    whitespace-only text (0), and NULL text (NULL signature)."""
    from big_data_co2_emission_analysis_spark.operators.dedup import simhash64_frame

    rows = [
        (0, BASE),
        (1, NEAR),
        (2, OTHER),
        (3, BASE),
        (4, "single"),
        (5, ""),
        (6, "   \t\n "),
        (7, None),
        (8, "two words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", simhash64("text").alias("s")).collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in simhash64_frame(df).collect()}
    assert got == expected
    assert got[7] is None  # null text -> null signature
    assert got[5] == 0 and got[4] == 0  # shingle-less docs -> 0


def test_simhash_frame_parity_tiny_chunk(spark):
    """Chunking the numpy kernel (chunk_shingles smaller than any doc)
    must not change values -- the doc window always advances by >= 1."""
    from big_data_co2_emission_analysis_spark.operators.dedup import simhash64_frame

    df = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, OTHER)], "doc_id long, text string"
    )
    expected = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", simhash64("text").alias("s")).collect()
    }
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash64_frame(df, chunk_shingles=1).collect()
    }
    assert got == expected


@pytest.mark.parametrize(
    "tail",
    [[""], ["   \t\n "], [None], ["single"], ["", None, "  ", "word", ""]],
    ids=["empty", "whitespace", "null", "single_word", "mixed"],
)
def test_simhash_frame_parity_trailing_shingleless_docs(spark, tail):
    """Zero-shingle docs AFTER the last non-empty doc of a kernel chunk
    must not shift that doc's vote: one partition (so one Arrow batch,
    rows in order) whose last rows have no bigram shingles, checked
    against the Column form at the default chunk and at chunk 1."""
    from big_data_co2_emission_analysis_spark.operators.dedup import simhash64_frame

    texts = [BASE, None, OTHER, "", NEAR] + tail
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).coalesce(1)
    expected = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", simhash64("text").alias("s")).collect()
    }
    for chunk in (1 << 18, 1):
        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash64_frame(df, chunk_shingles=chunk).collect()
        }
        assert got == expected, chunk


def test_ngram_jaccard_exact_values(corpus):
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", min_jaccard=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 3)] == pytest.approx(1.0)
    # 24 tokens -> 22 distinct 3-gram shingles; the one changed token
    # touches 3 shingles per side -> J = 19 / (22 + 22 - 19) = 19/25
    assert got[(0, 1)] == pytest.approx(19 / 25, abs=1e-9)
    assert (0, 2) not in got


def test_ngram_jaccard_agg_partitions_identical_and_exchange_reused(corpus):
    """VERDICT r5 #3 (sf10 spill): sizing the aggregation exchanges via
    ``agg_partitions`` must (a) change NO values and (b) not add
    exchanges -- the groupBys must reuse the explicit repartitioning
    (2 hash exchanges either way), otherwise the memory fix would pay a
    double shuffle."""
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    base = sorted(
        map(tuple, ngram_jaccard_pairs(corpus, "doc_id", "text", min_jaccard=0.3).collect())
    )
    sized = ngram_jaccard_pairs(
        corpus, "doc_id", "text", min_jaccard=0.3, agg_partitions=7
    )
    assert base and sorted(map(tuple, sized.collect())) == base
    # plan from a FRESH instance: an executed Dataset's formatted
    # explain re-prints exchanges through the AQE final plan and
    # double-counts them
    fresh = ngram_jaccard_pairs(
        corpus, "doc_id", "text", min_jaccard=0.3, agg_partitions=7
    )
    tree = explain_formatted(fresh).split("\n\n")[0]
    n_hash_exchanges = sum(
        1 for line in tree.splitlines() if "Exchange" in line
    )
    assert n_hash_exchanges == 2, tree


def test_minhash_banded_finds_planted_pairs(corpus):
    from big_data_co2_emission_analysis_spark.operators.dedup import minhash_banded_pairs

    pairs = minhash_banded_pairs(corpus, "doc_id", "text", min_jaccard=0.3)
    got = {(r["id_a"], r["id_b"]): r for r in pairs.collect()}
    assert (0, 3) in got and got[(0, 3)]["jaccard"] == pytest.approx(1.0)  # exact dup
    # exact jaccard on verified candidates matches the ngram ground truth
    assert (0, 1) in got and got[(0, 1)]["jaccard"] == pytest.approx(19 / 25, abs=1e-9)
    # signature estimate within ~3 stderr (1/sqrt(32))
    assert got[(0, 1)]["est_jaccard"] == pytest.approx(19 / 25, abs=0.55)
    assert (0, 2) not in got and (1, 2) not in got  # unrelated


def test_minhash_banded_bucket_cap_bounds_degenerate_corpus(spark):
    """A boilerplate cluster (40 identical docs) collides in EVERY band;
    max_bucket_size must drop those buckets (bounded pair expansion)
    while leaving recall on normal-sized buckets unchanged."""
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        minhash_banded_bucket_stats,
        minhash_banded_pairs,
    )

    boiler = "standard legal disclaimer repeated across every scraped page " * 3
    rows = [(100 + i, boiler) for i in range(40)] + [(0, BASE), (1, NEAR)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_banded_pairs(corpus, "doc_id", "text", min_jaccard=0.3, max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (0, 1) in got  # normal bucket unaffected
    assert not any(a >= 100 for a, _ in got)  # degenerate cluster dropped, not expanded

    uncapped = minhash_banded_pairs(corpus, "doc_id", "text", min_jaccard=0.3, max_bucket_size=None)
    n_boiler = sum(1 for a, b in {(r["id_a"], r["id_b"]) for r in uncapped.collect()} if a >= 100)
    assert n_boiler == 40 * 39 // 2  # what the cap is protecting against

    stats = minhash_banded_bucket_stats(
        corpus, "doc_id", "text", max_bucket_size=10
    ).collect()[0]
    assert stats["n_skipped_buckets"] >= 1
    assert stats["n_skipped_postings"] >= 40
    assert stats["max_bucket"] == 40


def test_fingerprint_dedup_whitespace_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "HELLO\tWORLD"), (4, "goodbye")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in fingerprint_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 4]


def test_embedding_near_dup_pairs(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(vecs, "id long, v array<float>")
    pairs = embedding_near_dup_pairs(df, "id", "v", min_cosine=0.95, bucket_length=4.0)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert all(p == (0, 1) for p in got)


def test_connected_components_merges_transitive_pairs(spark):
    """(1-2, 2-3) and (5-6) -> components {1,2,3} and {5,6}; isolated
    nodes in no pair simply don't appear (they keep themselves on
    dedup)."""
    from big_data_co2_emission_analysis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (8, 10)], "id_a long, id_b long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_long_chain(spark):
    """A 12-node path needs several propagation rounds (log-diameter),
    not one -- guards against a single-hop-only implementation."""
    from big_data_co2_emission_analysis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(13)}


def test_connected_components_pathological_chain_converges_log_rounds(spark):
    """A 200-node path graph has diameter 200: plain min-propagation
    would need ~200 rounds, pointer jumping O(log) -- assert it
    converges WELL under the diameter, and that stats_out reports the
    rounds taken (pipeline-monitoring contract)."""
    from big_data_co2_emission_analysis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    stats = {}
    got = {r["id"]: r["comp"] for r in connected_components(pairs, stats_out=stats).collect()}
    assert got == {i: 0 for i in range(201)}
    assert stats["converged"] is True
    assert 1 < stats["rounds"] <= 15  # log-ish, nowhere near diameter 200


def test_connected_components_releases_prior_round_checkpoints(spark):
    """ADVICE r5: Dataset.unpersist is a no-op for localCheckpoint
    blocks (their persistence is RDD-level, invisible to the SQL
    CacheManager), so the loop must release prior rounds through the
    JavaRDD handles.  After a multi-round run, exactly the FINAL
    round's block may remain (it backs the returned labels), its ids
    reported in stats_out -- and releasing those ids must empty the
    persistent-RDD map, proving the mechanism is the real one."""
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        connected_components,
    )

    sc = spark.sparkContext

    def persistent_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    # drop whatever other tests left behind so the delta is ours
    jmap = sc._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist(False)
    base = persistent_ids()
    assert not base

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    stats = {}
    labels = connected_components(pairs, stats_out=stats)
    labels.count()
    assert stats["rounds"] > 2  # multi-round: prior rounds existed
    leftover = persistent_ids()
    assert leftover == set(stats["checkpoint_rdd_ids"])  # final round only
    # and those ids are genuinely releasable through the reported handle
    jmap = sc._jsc.getPersistentRDDs()
    for rid in stats["checkpoint_rdd_ids"]:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
    assert not persistent_ids()


def test_connected_components_iteration_cap_raises_loudly(spark):
    """max_iterations must fail loudly with the cause named, and
    stats_out must record the non-convergence."""
    import pytest

    from big_data_co2_emission_analysis_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    stats = {}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2, stats_out=stats)
    assert stats == {"rounds": 2, "converged": False}


def test_dedup_by_components_end_to_end(spark):
    """Full pipeline: banded MinHash pairs -> components -> one
    survivor per duplicate cluster, non-duplicates untouched."""
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        dedup_by_components,
        minhash_banded_pairs,
    )

    rows = [(0, BASE), (1, NEAR), (2, OTHER), (3, BASE), (4, BASE + " extra")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_banded_pairs(corpus, "doc_id", "text", min_jaccard=0.3)
    kept = sorted(r["doc_id"] for r in dedup_by_components(corpus, pairs, "doc_id").collect())
    # 0,1,3,4 all near-dup into one component -> survivor 0; 2 untouched
    assert kept == [0, 2]


# -- incremental (cross-shard) dedup ----------------------------------------


def test_incremental_dedup_status_matrix(spark):
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        fingerprint,
        incremental_dedup,
        incremental_dedup_status,
    )
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(1, "the cat sat"), (2, "old corpus doc")], "doc_id long, text string"
    )
    base_fps = base.select(fingerprint("text").alias("fp")).distinct()
    shard = spark.createDataFrame(
        [
            (10, "THE   cat sat"),   # normalizes to a base fingerprint
            (11, "brand new doc"),   # kept
            (12, "brand  NEW doc"),  # same normalized fp as 11 -> shard dup
            (13, "another new one"), # kept
        ],
        "doc_id long, text string",
    )
    st = {
        r.doc_id: r.status
        for r in incremental_dedup_status(shard, base_fps, "text", "doc_id").collect()
    }
    assert st == {
        10: "dup_of_base",
        11: "kept",
        12: "dup_in_shard",
        13: "kept",
    }
    kept = sorted(
        r.doc_id for r in incremental_dedup(shard, base_fps, "text", "doc_id").collect()
    )
    assert kept == [11, 13]


def test_incremental_dedup_base_dup_trumps_shard_dup(spark):
    # both shard copies of a base fingerprint are dup_of_base, never
    # one kept + one dup_in_shard
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        fingerprint,
        incremental_dedup_status,
    )

    base = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    base_fps = base.select(fingerprint("text").alias("fp")).distinct()
    shard = spark.createDataFrame(
        [(10, "x y z"), (11, "x  y  z")], "doc_id long, text string"
    )
    st = {
        r.doc_id: r.status
        for r in incremental_dedup_status(shard, base_fps, "text", "doc_id").collect()
    }
    assert st == {10: "dup_of_base", 11: "dup_of_base"}


def test_incremental_dedup_single_shuffle_chain(spark):
    # the keep-min window must reuse the join's fingerprint
    # partitioning: exactly one Exchange on the shard lineage
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        fingerprint,
        incremental_dedup,
    )
    from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "concat('text ', CAST(id % 37 AS STRING)) AS text"
    )
    base_fps = docs.filter("doc_id % 2 = 0").select(
        fingerprint("text").alias("fp")
    ).distinct()
    out = incremental_dedup(docs.filter("doc_id % 2 = 1"), base_fps, "text", "doc_id")
    # the claim under test is the 100 TB shape where the base is too
    # big to broadcast: force the shuffle-join path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_formatted(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # shard lineage: one Exchange feeding the join+window; base lineage
    # adds its own exchanges (distinct + join) -- assert the window did
    # not re-exchange: no Exchange node between Window and the join
    import re

    window_pos = plan.find("Window")
    join_pos = plan.find("SortMergeJoin")
    assert window_pos != -1 and join_pos != -1
    between = plan[min(window_pos, join_pos): max(window_pos, join_pos)]
    assert "Exchange" not in between, "window re-exchanged after the fp join"


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_minhash_cache_registry_release(corpus, spark):
    """minhash builders persist/checkpoint intermediates (signatures,
    candidates, shingles) that outlive the call; release_pinned must free
    every one, and the bucket_stats path -- which consumes only the slim
    postings -- must persist NOTHING (r9 ADVICE: it used to pay a
    signature cache write it never read)."""
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        minhash_banded_bucket_stats,
        minhash_banded_pairs,
    )
    from big_data_co2_emission_analysis_spark.session import release_pinned

    release_pinned(spark)  # clean slate from earlier tests
    minhash_banded_bucket_stats(corpus, "doc_id", "text").collect()
    assert _pinned(spark) == 0

    minhash_banded_pairs(corpus, "doc_id", "text", min_jaccard=0.3).collect()
    assert release_pinned(spark) >= 1
    assert _pinned(spark) == 0


def test_lm_cache_registry_release(spark):
    """The bigram LM persists its count table past the call;
    release_pinned frees it, and a second release finds nothing."""
    from big_data_co2_emission_analysis_spark.operators.ngram_lm import (
        score_docs_bigram_lm,
    )
    from big_data_co2_emission_analysis_spark.session import release_pinned

    release_pinned(spark)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(30)],
        "doc_id long, text string",
    )
    score_docs_bigram_lm(docs).collect()
    assert release_pinned(spark) >= 1
    assert _pinned(spark) == 0
    assert release_pinned(spark) == 0


def test_minhash_slim_and_small_shapes_value_identical(corpus, monkeypatch):
    """The r10 crossover gate: slim_postings=False (r8 sig-on-posting
    shape) and the slim scale shape must produce identical rows --
    est_jaccard is a pure function of the two signatures, so where it
    is computed (bucket expansion vs signature rejoin) cannot matter."""
    from big_data_co2_emission_analysis_spark.operators import dedup
    from big_data_co2_emission_analysis_spark.operators.dedup import (
        minhash_banded_pairs,
    )

    def rows(**kw):
        return sorted(
            (r.id_a, r.id_b, r.est_jaccard, r.jaccard)
            for r in minhash_banded_pairs(
                corpus, "doc_id", "text", min_jaccard=0.3, **kw
            ).collect()
        )

    slim = rows(slim_postings=True)
    small = rows(slim_postings=False)
    assert small == slim and small
    # the candidate-id broadcast gate's shuffle fallback: same rows
    monkeypatch.setattr(dedup, "_BROADCAST_MAX_IDS", 0)
    assert rows(slim_postings=True) == slim
