"""Distributed n-gram language model: corpus-trained bigram counts +
per-document perplexity-style scoring -- the classic "perplexity
filter" stage of a pretraining data pipeline (score every document
under a cheap LM trained on the corpus itself; outliers are boilerplate,
gibberish, or format noise).

Spark-first shape (no Python boundary anywhere):

- Bigram construction is a PURE MAP: the token array is built once per
  row (``split`` + ``filter``), a BOS marker is prepended, and the
  (v, w) pairs come from ``arrays_zip(slice(toks, 1, n-1),
  slice(toks, 2, n-1))`` + ``explode`` -- no window, no self-join, no
  shuffle to form adjacent pairs.
- Counting is ONE shuffle: ``groupBy(v, w).count()`` with map-side
  combine.  Context totals c(v) and the vocabulary size both derive
  from the (already tiny) bigram-count table -- no second corpus scan.
- Scoring is ONE shuffle: the exploded bigram stream joins the count
  table on (v, w).  The 1-row vocabulary scalar broadcasts; the
  context-total table (|vocab| rows -- web-corpus vocabularies do NOT
  broadcast safely) joins under a measured size gate, see
  ``_BROADCAST_MAX_BIGRAMS`` / ``_BROADCAST_MAX_BYTES``.

Model: add-alpha smoothed bigram LM over the corpus's own vocabulary,

    P(w | v) = (c(v, w) + alpha) / (c(v) + alpha * V)

with V = |distinct non-BOS tokens|.  Because documents are scored
under counts from the same corpus, every context v is attested (c(v)
exists) and no UNK handling is needed; unseen *bigrams* get the
smoothed floor.  Per-document score = mean negative log-probability
(perplexity = exp of it).

Cross-engine determinism: each bigram's log-probability is quantized
to 9 decimal places in fixed-point int64 micro-units (queries/_exact
pattern) so the per-document sum is associative -- identical under any
partitioning, and replayed exactly by the DuckDB oracle.

Scale notes (100 TB): the count table has one row per distinct bigram
-- vocabulary-bounded, not corpus-bounded -- and both shuffles key on
high-cardinality (v, w), so no hot keys beyond stopword pairs, which
map-side combine absorbs.  Nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..queries._exact import fx, unfx

#: beginning-of-sentence marker.  KNOWN CONFLATION: a document whose
#: text contains a literal whitespace-delimited '<s>' token merges it
#: with the sentence-start marker (inflating c(<s>) slightly).  Natural
#: text essentially never tokenizes to a bare '<s>'; escaping it would
#: complicate both engines' tokenizers for no practical gain, so the
#: conflation is accepted and documented rather than hidden.
BOS = "<s>"

#: log-prob quantization scale (decimal places) for the associative sum
LP_SCALE = 9

#: broadcast envelope of the count/context join, checked against the
#: MEASURED count table (one row per distinct bigram): at most 1M rows
#: AND at most 64 MiB of estimated in-memory size (measured key octets
#: + ~48 B/row of UTF8String/long/hash-entry overhead).  A forced
#: broadcast replicates to every executor plus the driver, so a
#: row-only gate would let 1M long-token bigrams ship hundreds of MB.
_BROADCAST_MAX_BIGRAMS = 1_000_000
_BROADCAST_MAX_BYTES = 64 << 20


def _token_array(text_col: Column) -> Column:
    """Lower + whitespace split + drop empties, as an ARRAY column
    (the array-valued twin of functions.ranking.tokenize)."""
    return F.filter(F.split(F.lower(F.trim(text_col)), r"\s+"), lambda t: t != "")


def doc_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, v, w) for every adjacent token pair, BOS-prefixed.

    Pure map: slice + zip + explode on the per-row token array.  A
    document with no tokens contributes no rows.
    """
    toks = F.concat(F.array(F.lit(BOS)), _token_array(F.col(text_col)))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("v"),
        F.slice(toks, 2, n - 1).alias("w"),
    )
    return (
        docs.select(F.col(id_col).alias("__id"), F.explode(pairs).alias("__p"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__p.v").alias("v"),
            F.col("__p.w").alias("w"),
        )
    )


def bigram_lm_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigram_counts, context_counts, vocab) for the corpus.

    ``bigram_counts``: (v, w, c_vw) -- one shuffle, map-side combined.
    ``context_counts``: (v, c_v)    -- derived from bigram_counts (the
    count of bigrams with context v IS the number of transitions out of
    v), no second corpus scan.
    ``vocab``: 1-row (v_size,) -- distinct non-BOS successor tokens.
    Every corpus token appears as some bigram's ``w`` (each token has a
    predecessor thanks to BOS), so counting distinct ``w`` over the
    count table equals counting distinct tokens over the corpus.
    """
    big = doc_bigrams(docs, id_col, text_col)
    counts = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw"))
    ctx = counts.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    vocab = counts.agg(F.count_distinct("w").alias("v_size"))
    return counts, ctx, vocab


def score_docs_bigram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document LM score: (id, n_bigrams, avg_logprob, perplexity).

    avg_logprob = mean over the document's bigrams of
    ln((c(v,w) + alpha) / (c(v) + alpha * V)); perplexity =
    exp(-avg_logprob).  Documents with no tokens are absent (no
    bigrams to score).

    Each term is rounded to ``LP_SCALE`` dp and summed in fixed-point
    int64, so the result is partitioning-independent and replayable by
    an ANSI-SQL oracle.

    The bigram-count table is ALWAYS materialized once (``persist`` +
    one count job) before anything consumes it.  Without that, its
    three consumers -- the scoring join (needs v, w, c_vw), the
    context rollup (prunes w), and the vocabulary scalar (prunes v)
    -- prune the aggregate differently, the subtrees stop
    canonicalizing equal, and the corpus-sized bigram explode + count
    aggregation runs THREE times (measured at sf10: two redundant
    ~97 MiB partial-agg exchanges in the executed plan).  The cache is
    one row per distinct bigram -- vocabulary-bounded, never
    corpus-bounded -- and the count it yields is reused as the
    measured broadcast gate below.  (The cache outlives the call --
    the returned frame is lazy; ``session.release_pinned`` frees it.)

    How the count/context tables (one row per distinct bigram/token --
    vocabulary-sized, so fine at fixture scale but 10^8+ rows on a web
    corpus, which would OOM a forced broadcast) join the bigram stream
    is a broadcast-confirm from MEASURED cardinality AND measured bytes
    (the streaming-dedup envelope pattern): if the materialized count
    table is within ``_BROADCAST_MAX_BIGRAMS`` rows and
    ``_BROADCAST_MAX_BYTES`` of estimated size (summed in the same job
    that forces the cache), both it and the (strictly smaller) context
    table broadcast -- the 27M-row scoring stream then never shuffles
    at all (measured at sf10: the stream otherwise pays a ~650 MiB
    exchange, because AQE sizes the broadcast decision by the
    PRE-aggregation exchange bytes (~97 MiB > threshold), not the
    96k-row post-agg table, and refuses).  Above the envelope both
    tables take a shuffle-hash hint -- the web-corpus-safe shape, the
    same fallback contract as streaming/windows.py
    ``_BROADCAST_MAX_FPS``.  The two shapes are value-identical
    (oracle-pinned); only the physical join strategy differs.

    Cross-engine note (accepted knife edge): the per-bigram smoothed
    probability is a plain IEEE division -- bit-identical in Spark and
    DuckDB -- but ``ln()`` is JVM ``Math.log`` here vs libm in the
    oracle, which may differ by 1 ULP; a value within that ULP of a
    0.5e-9 quantization boundary could round differently.  Quantizing
    the probability BEFORE the log would not remove the hazard (the
    transcendental itself is the divergence source), so, like the
    cosine 6-dp note in operators/similarity.py, we accept it: the
    fixture corpus is pinned green, and a flip needs a log output
    within ~1e-16 of a half-quantum -- ~1e-7 odds per distinct bigram.
    """
    big = doc_bigrams(docs, id_col, text_col)
    # materialize the vocabulary-bounded count table ONCE (see the
    # docstring): without the cache its three consumers prune the
    # aggregate differently and the corpus-sized explode+agg runs
    # three times; the forced count doubles as the broadcast gate.
    counts = big.groupBy("v", "w").agg(F.count(F.lit(1)).alias("c_vw")).persist()
    # one job forces the cache AND measures the envelope: row count
    # plus actual key octets (the byte gate -- row count alone says
    # nothing about 1M bigrams of long tokens)
    n_distinct_bigrams, key_octets = counts.agg(
        F.count(F.lit(1)), F.sum(F.octet_length("v") + F.octet_length("w"))
    ).head()
    est_bytes = (key_octets or 0) + 48 * n_distinct_bigrams
    ctx = counts.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    vocab = counts.agg(F.count_distinct("w").alias("v_size"))
    if (
        n_distinct_bigrams <= _BROADCAST_MAX_BIGRAMS
        and est_bytes <= _BROADCAST_MAX_BYTES
    ):
        counts = F.broadcast(counts)
        ctx = F.broadcast(ctx)
    else:
        # above the envelope (a forced broadcast bypasses
        # autoBroadcastJoinThreshold, so the gate carries the safety):
        # shuffle_hash on the (bounded) build sides -- the stream side
        # must exchange at this scale, but it never needs SORTING for
        # a 1:1 probe (the substring-family SHJ rationale)
        counts = counts.hint("shuffle_hash")
        ctx = ctx.hint("shuffle_hash")

    lp = F.log(
        (F.coalesce(F.col("c_vw"), F.lit(0)).cast("double") + F.lit(alpha))
        / (F.col("c_v").cast("double") + F.lit(alpha) * F.col("v_size").cast("double"))
    )
    scored = (
        big.join(counts, ["v", "w"], "left")
        .join(ctx, "v")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), fx(lp, LP_SCALE).alias("__lp_fx"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (unfx(F.sum("__lp_fx"), LP_SCALE) / F.count(F.lit(1))).alias("__avg"),
    )
    return agg.select(
        id_col,
        "n_bigrams",
        F.round("__avg", 6).alias("avg_logprob"),
        F.round(F.exp(-F.col("__avg")), 6).alias("perplexity"),
    )
