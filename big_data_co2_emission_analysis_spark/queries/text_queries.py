"""Text-analysis queries over the `documents` fixture (the LLM-data-
pipeline surface: token stats, quality signals, fingerprints, exact
dedup).  Near-dup (MinHash/SimHash/LSH) lives in mlops.py as rows-only
checks with planted-duplicate unit tests in tests/test_dedup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._exact import davg, sql_davg, sql_dsum, sql_fx
from .registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min-parallelism guard: the small-SF fixture is one parquet row
    # group, which would serialize all shingling/tokenizing onto a
    # single core (see sources.readers.read_documents)
    from ..sources.readers import read_documents

    return read_documents(spark, sf_dir)


# --------------------------------------------------------------------------
# Per-document stats: char/token counts + a normalization fingerprint
# (lowercase, collapse whitespace, md5) used for exact near-format dedup.
# --------------------------------------------------------------------------
@register(
    "doc_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS len_chars,
           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS n_tokens,
           MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text",),
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.length("text").cast("long").alias("len_chars"),
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
            F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias("fingerprint"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Corpus rollup per language.
# --------------------------------------------------------------------------
@register(
    "lang_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS total_chars,
           {sql_davg('n_chars')} AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "agg"),
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            davg("n_chars").alias("avg_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Exact deduplication groups: hash the raw text, keep the smallest doc_id
# per group (deterministic survivor).  At 100 TB this is the shuffle-once
# hash-groupBy dedup; group count == distinct count verifies it.
# --------------------------------------------------------------------------
@register(
    "dedup_exact_groups",
    oracle="""
    SELECT MD5(text) AS text_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_id
    FROM documents
    GROUP BY MD5(text)
    ORDER BY text_hash
    """,
    tags=("text", "dedup"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
        .orderBy("text_hash")
    )


# --------------------------------------------------------------------------
# Quality signals: punctuation / digit / whitespace ratios and mean token
# length -- the standard cheap filters in front of a training-data
# pipeline.  All expressed as JVM-side regexp_replace length deltas.
# --------------------------------------------------------------------------
@register(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS BIGINT) AS n_spaces,
           CAST(LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) AS DOUBLE)
             / LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS avg_token_len
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    no_space = F.regexp_replace(text, r"\s", "")
    n_tokens = F.size(F.split(F.trim(text), r"\s+"))
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            (F.length(text) - F.length(F.regexp_replace(text, "[.,!?;:]", ""))).cast("long").alias("n_punct"),
            (F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("long").alias("n_digits"),
            (F.length(text) - F.length(no_space)).cast("long").alias("n_spaces"),
            (F.length(no_space).cast("double") / n_tokens).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Near-format dedup survivors: group by normalized fingerprint
# (lowercase + collapsed whitespace -> md5), keep the smallest doc_id.
# One window shuffle; deterministic survivor (vs dropDuplicates'
# first-row-wins nondeterminism).
# --------------------------------------------------------------------------
@register(
    "fingerprint_dedup_survivors",
    oracle=r"""
    SELECT doc_id, fp FROM (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp,
             ROW_NUMBER() OVER (
               PARTITION BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    ORDER BY doc_id
    """,
    tags=("text", "dedup"),
)
def fingerprint_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fingerprint, fingerprint_dedup

    kept = fingerprint_dedup(_docs(spark, sf_dir), "text", "doc_id")
    return kept.select("doc_id", fingerprint("text").alias("fp")).orderBy("doc_id")


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs via inverted-index self-join
# (explode shingles -> join on shingle -> |A ∩ B| / |A ∪ B|).  The
# exact counterpart of minhash_near_dups; DuckDB recomputes the same
# shingling with list functions.
# --------------------------------------------------------------------------
def _jaccard_agg_partitions(
    spark: SparkSession, sf_dir: str, divisor_kib: int = 256
) -> int | None:
    """Size the exact-Jaccard aggregation exchanges from the document
    input bytes (filesystem metadata only, no probe job): one partition
    per 256 KiB of compressed documents, floored at the session
    default.  The 256 KiB divisor assumes ~4x the pair expansion
    measured on the fixture corpus (113M candidate-pair entries, ~7 GB
    of aggregation state, from 84 MB compressed at sf10 -- see
    operators/dedup.py ngram_jaccard_pairs) so per-task state stays
    ~20 MB even on denser text.  Returns None at or under the session
    default -- small corpora keep the stock plan (map-side combine and
    all), and the operator only repartitions when it buys memory.

    ``divisor_kib`` tunes the state-per-input ratio per caller: the
    Jaccard pair expansion keeps the 256 KiB default; the substring
    REWRITE's posting state is ~half as dense (no pair expansion, one
    ~64 B posting per token), so it passes 512 -- probed at sf10:
    sizing at 512 KiB (160 partitions) runs 23.5 s vs 25.1 s at
    256 KiB (328) and 33.6 s spilled at the 32-partition default."""
    import os

    from ..sources.readers import table_nbytes

    nbytes = table_nbytes(os.path.join(sf_dir, "documents.parquet"))
    if nbytes is None:  # non-local path: stay with the session default
        return None
    default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n = nbytes // (divisor_kib * 1024)
    return int(n) if n > default else None


@register(
    "ngram_jaccard_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, LIST_DISTINCT(
        LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 2, 0) + 1),
                       i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + 2), ' '))) AS shingles
      FROM toks
    ),
    ex AS (
      SELECT doc_id, LEN(shingles) AS n, UNNEST(shingles) AS shingle
      FROM sh WHERE LEN(shingles) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)), 6) AS jaccard
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING jaccard >= 0.2
    ORDER BY id_a, id_b
    """,
    tags=("text", "dedup"),
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        shingle_n=3,
        min_jaccard=0.2,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir),
    )
    # No final sort (r11; the semdedup_pairs_bigk / sample_lineitem_det
    # lesson): the result is small, but a global orderBy's
    # range-partitioner SAMPLING pass re-executes the sort's CHILD --
    # here the whole pair aggregation over the multi-GB candidate
    # exchange -- before the real pass runs it again.  Measured at
    # sf30: two stages each reading the full 7.26 GB pair exchange,
    # ~0.9 of 3.7 executor-ks for a cosmetic order the correctness
    # contract ignores (driver hash and check_oracle compare
    # order-insensitively; the oracle keeps its ORDER BY harmlessly).
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# Connected components over the near-dup pair graph: the standard tail
# of large-scale dedup (pairs -> components -> one survivor each).  The
# Spark side is iterative min-label propagation on the EDGE list
# (operators/dedup.py connected_components: join + groupBy per round,
# driver steers on a 1-row convergence count, data never collects);
# the oracle replays it as a DuckDB recursive CTE to a fixpoint.
# --------------------------------------------------------------------------
_JACCARD_PAIRS_CTE = r"""
    toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, LIST_DISTINCT(
        LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 2, 0) + 1),
                       i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + 2), ' '))) AS shingles
      FROM toks
    ),
    ex AS (
      SELECT doc_id, LEN(shingles) AS n, UNNEST(shingles) AS shingle
      FROM sh WHERE LEN(shingles) > 0
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) * 1.0 / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.2
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    )
"""


def _jaccard_pairs(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        "doc_id",
        "text",
        shingle_n=3,
        min_jaccard=0.2,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir),
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE}
    SELECT id AS doc_id, MIN(comp) AS component
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    tags=("text", "dedup", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    comps = connected_components(_jaccard_pairs(spark, sf_dir))
    return comps.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    ).orderBy("doc_id")


@register(
    "near_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE},
    losers AS (
      SELECT id FROM reach GROUP BY id HAVING id <> MIN(comp)
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM losers)
    ORDER BY d.doc_id
    """,
    tags=("text", "dedup", "iterative"),
)
def near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One survivor (min doc_id) per near-dup component plus every
    unpaired doc: the full dedup tail, corpus anti-join included."""
    from ..operators.dedup import dedup_by_components

    docs = _docs(spark, sf_dir)
    kept = dedup_by_components(docs, _jaccard_pairs(spark, sf_dir), "doc_id")
    return kept.select("doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# Token-window chunking: the context-window segmentation step of an
# LLM data pipeline (chunk_size-token windows every stride tokens,
# overlapping).  One codegen'd transform + explode; at 100 TB this is
# a pure map stage, no shuffle.
# --------------------------------------------------------------------------
_CHUNK_SIZE, _CHUNK_STRIDE = 64, 48


@register(
    "doc_chunks",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    )
    SELECT doc_id,
           UNNEST(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE})) AS chunk_start,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE}),
             i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + {_CHUNK_SIZE - 1}), ' '))) AS chunk_text,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE}),
             i -> LEN(LIST_SLICE(t, i, i + {_CHUNK_SIZE - 1})))) AS n_tokens
    FROM toks
    ORDER BY doc_id, chunk_start
    """,
    tags=("text", "chunking"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_chunks

    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(token_chunks("text", _CHUNK_SIZE, _CHUNK_STRIDE)).alias("c"),
        )
        .select("doc_id", "c.chunk_start", "c.chunk_text", "c.n_tokens")
        .orderBy("doc_id", "chunk_start")
    )


# --------------------------------------------------------------------------
# The same chunking through a Python UDTF (Spark 4 table function) in
# a SQL LATERAL join -- the row-to-many-rows Python surface, checked
# against the SAME oracle as the native path so the two
# implementations provably agree.  Python-process path: API coverage,
# not the production plan (that's doc_chunks).
# --------------------------------------------------------------------------
@register(
    "udtf_chunks",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    )
    SELECT doc_id,
           UNNEST(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE})) AS chunk_start,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE}),
             i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + {_CHUNK_SIZE - 1}), ' '))) AS chunk_text,
           UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE}),
             i -> LEN(LIST_SLICE(t, i, i + {_CHUNK_SIZE - 1})))) AS n_tokens
    FROM toks
    ORDER BY doc_id, chunk_start
    """,
    tags=("text", "chunking", "udtf"),
)
def udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_start, c.chunk_text, c.n_tokens
        FROM documents d,
             LATERAL chunk_tokens(d.text, {_CHUNK_SIZE}, {_CHUNK_STRIDE}) c
        ORDER BY d.doc_id, c.chunk_start
        """
    )


# --------------------------------------------------------------------------
# Repetition quality signal: fraction of duplicated 3-grams per doc
# (degenerate generations and boilerplate score high).  Pure map.
# --------------------------------------------------------------------------
@register(
    "repetition_scores",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN LEN(t) >= 3 THEN
               LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                              i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + 2), ' '))
             ELSE [] END AS g
      FROM toks
    )
    SELECT doc_id,
           LEN(g) AS n_grams,
           CASE WHEN LEN(g) > 0
                THEN ROUND(1 - LEN(LIST_DISTINCT(g)) * 1.0 / LEN(g), 6) END AS dup_ratio
    FROM grams
    ORDER BY doc_id
    """,
    tags=("text", "quality"),
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ngram_list, repeated_ngram_ratio

    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(ngram_list("text", 3)).cast("long").alias("n_grams"),
            repeated_ngram_ratio("text", 3).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Benchmark-contamination check: corpus docs sharing any distinct
# 5-gram with a probe (benchmark) set.  The decontamination step of a
# training pipeline: explode distinct n-grams on both sides, inner
# join on the gram (the probe side is tiny -> broadcast), aggregate
# per corpus doc.  At 100 TB the probe side stays a broadcast table
# and the corpus side is one map + one aggregation shuffle.
# --------------------------------------------------------------------------
_PROBE_MAX_ID = 50

# shared by the broadcast-exact and bloom-prefiltered variants: the
# bloom path only PRUNES before an exact-confirm join, so its output is
# bit-identical and the same oracle applies to both
_CONTAMINATION_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(
               CASE WHEN LEN(t) >= 5 THEN
                 LIST_TRANSFORM(RANGE(1, LEN(t) - 3),
                                i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + 4), ' '))
               ELSE [] END)) AS gram,
             LEN(LIST_DISTINCT(
               CASE WHEN LEN(t) >= 5 THEN
                 LIST_TRANSFORM(RANGE(1, LEN(t) - 3),
                                i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + 4), ' '))
               ELSE [] END)) AS n_grams
      FROM toks
    ),
    probe AS (SELECT DISTINCT gram FROM grams WHERE doc_id < {_PROBE_MAX_ID})
    SELECT g.doc_id,
           COUNT(*) AS n_shared,
           ROUND(COUNT(*) * 1.0 / ANY_VALUE(g.n_grams), 6) AS contaminated_ratio
    FROM grams g JOIN probe p ON g.gram = p.gram
    WHERE g.doc_id >= {_PROBE_MAX_ID}
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """


def _contamination_grams(spark: SparkSession, sf_dir: str):
    from ..functions.text import ngram_list

    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.array_distinct(ngram_list("text", 5)).alias("__g"),
    ).select(
        "doc_id",
        F.size("__g").cast("long").alias("n_grams"),
        F.explode("__g").alias("gram"),
    )
    probe = grams.filter(F.col("doc_id") < _PROBE_MAX_ID)
    corpus = grams.filter(F.col("doc_id") >= _PROBE_MAX_ID)
    return corpus, probe


def _contamination_aggregate(matched: DataFrame) -> DataFrame:
    return (
        matched.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared"),
            F.round(F.count("*") / F.first("n_grams"), 6).alias("contaminated_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "contamination_check",
    oracle=_CONTAMINATION_ORACLE,
    tags=("text", "contamination"),
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, probe = _contamination_grams(spark, sf_dir)
    return _contamination_aggregate(
        corpus.join(F.broadcast(probe.select("gram").distinct()), "gram")
    )


@register(
    "contamination_check_bloom",
    oracle=_CONTAMINATION_ORACLE,
    tags=("text", "contamination"),
)
def contamination_check_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE variant of :func:`contamination_check` for probe sets
    too big to broadcast (decontaminating against another corpus): a
    from-scratch Bloom bitmap (operators/bloom.py) built over the probe
    grams prunes the corpus side map-side to ~(contamination rate +
    fpp) of its grams BEFORE the shuffle join; the surviving candidates
    exact-confirm through a plain (non-broadcast) join, so false
    positives drop out and the result is bit-identical to the exact
    query -- same oracle, hash-checked.  At 100 TB the shuffle carries
    only the bloom-surviving sliver of the corpus gram stream; the
    probe side shuffles once regardless."""
    from ..operators.bloom import bloom_prefilter_jvm, build_bloom_bitmap

    corpus, probe = _contamination_grams(spark, sf_dir)
    probe_grams = probe.select("gram").distinct()
    bitmap, m, k = build_bloom_bitmap(probe_grams, "gram")
    candidates = bloom_prefilter_jvm(corpus, "gram", bitmap, m, k)
    # exact confirm WITHOUT broadcast: the regime this variant targets
    # has a probe side bigger than the broadcast threshold
    return _contamination_aggregate(candidates.join(probe_grams, "gram"))


# --------------------------------------------------------------------------
# Token frequency: explode + count (the word-count shape; at scale a
# two-level partial aggregation that Catalyst plans automatically).
# --------------------------------------------------------------------------
# Expected tables for the heuristic/hash text queries: pure functions
# of the TEXT, precomputed by an independent pure-Python replication
# (incl. xxHash64 from the public spec, tools/gen_text_expected.py)
# and joined on md5(text) -- sf-agnostic, cross-implementation.
_TEXT_EXPECTED = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "expected_text")
)


@register(
    "lang_id_heuristic",
    oracle=f"""
    SELECT d.doc_id, d.lang, e.predicted_lang
    FROM documents d
    JOIN read_parquet('{_TEXT_EXPECTED}/lang_id.parquet') e
      ON md5(d.text) = e.text_md5
    ORDER BY d.doc_id
    """,
    tags=("text",),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID vs the labeled lang column; accuracy
    on crafted texts is unit-tested (the fixture corpus is random word
    salad, so agreement there is not meaningful).  Oracle: expected
    predictions from the pure-Python replication of the argmax
    expression (tools/gen_text_expected.py)."""
    from ..functions.text import lang_id

    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", lang_id("text").alias("predicted_lang"))
        .orderBy("doc_id")
    )


@register(
    "quality_scores",
    oracle=f"""
    SELECT d.doc_id, e.quality, e.n_bpe_tokens, e.fingerprint64
    FROM documents d
    JOIN read_parquet('{_TEXT_EXPECTED}/quality.parquet') e
      ON md5(d.text) = e.text_md5
    ORDER BY d.doc_id
    """,
    tags=("text",),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic + BPE-ish subword token estimate +
    rolling xxhash64 fingerprint -- all native expressions.  Oracle:
    expected values from the independent pure-Python replication
    (half-up rounding, ASCII regex classes, spec xxHash64 --
    tools/gen_text_expected.py)."""
    from ..functions.text import bpe_ish_token_count, quality_score, rolling_fingerprint

    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            quality_score("text").alias("quality"),
            bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
            rolling_fingerprint("text").alias("fingerprint64"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Distribution drift: PSI of each source's quality-score histogram vs
# the whole corpus (operators/quality.distribution_psi) -- the standard
# per-source drift monitor in a continuously-ingesting training
# pipeline.  Fixed-width bins on the 6-dp-rounded score keep the
# binning exact cross-engine; the oracle reuses the independently
# replicated quality values (fixtures/expected_text).
# --------------------------------------------------------------------------


@register(
    "quality_psi_by_source",
    oracle=f"""
    WITH
    q AS (
      SELECT d.source AS src, e.quality AS qv
      FROM documents d
      JOIN read_parquet('{_TEXT_EXPECTED}/quality.parquet') e
        ON md5(d.text) = e.text_md5
      WHERE e.quality IS NOT NULL AND e.quality >= 0.0 AND e.quality <= 1.0
    ),
    b AS (SELECT src, LEAST(CAST(FLOOR(qv / 0.1) AS INT), 9) AS bin FROM q),
    grp AS (SELECT src, COUNT(*) AS n_g FROM b GROUP BY 1),
    cnt AS (SELECT src, bin, COUNT(*) AS n_gb FROM b GROUP BY 1, 2),
    gcnt AS (SELECT bin, COUNT(*) AS n_b FROM b GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM b),
    spine AS (
      SELECT g.src, g.n_g, CAST(r.bin AS INT) AS bin
      FROM grp g, (SELECT UNNEST(range(0, 10)) AS bin) r
    ),
    p AS (
      SELECT s.src, s.n_g,
             (COALESCE(c.n_gb, 0) + 0.5) / (s.n_g + 5.0) AS p_g,
             (COALESCE(gc.n_b, 0) + 0.5) / (t.n + 5.0) AS p
      FROM spine s
      LEFT JOIN cnt c ON s.src = c.src AND s.bin = c.bin
      LEFT JOIN gcnt gc ON s.bin = gc.bin
      CROSS JOIN tot t
    )
    SELECT src AS source, CAST(MAX(n_g) AS BIGINT) AS n_docs,
           ROUND({sql_dsum("(p_g - p) * LN(p_g / p)", 9)}, 6) AS psi
    FROM p GROUP BY src ORDER BY source
    """,
    tags=("text", "quality", "drift"),
)
def quality_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's quality-score
    distribution against the whole corpus: the drift monitor a
    continuously-ingesting pipeline alerts on (PSI > 0.25 =
    investigate the source)."""
    from ..functions.text import quality_score
    from ..operators.quality import distribution_psi

    scored = _docs(spark, sf_dir).select(
        "source", quality_score("text").alias("qv")
    )
    return distribution_psi(scored, "qv", "source").orderBy("source")


@register(
    "top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    tags=("text", "agg"),
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Zipf-law fit: closed-form OLS of ln(frequency) on ln(rank) over the
# term-frequency table -- the corpus-statistics sanity check a training
# mixture designer runs per source/snapshot (natural text fits slope
# ~ -1; a drifting slope or collapsing r2 flags boilerplate floods or
# templated spam).  Scale shape: the token explode reduces map-side to
# one (term, count) row per distinct term, so everything after the
# first shuffle operates on the VOCABULARY, which Heaps' law keeps
# orders of magnitude under the corpus; the rank assignment is the one
# vocab-sized global sort.  All five OLS sums run in 9-dp int64
# fixed-point (order-independent), so the closed-form slope/intercept/
# r2 divisions see bit-identical inputs on both engines.
# --------------------------------------------------------------------------


@register(
    "term_zipf_fit",
    oracle=f"""
    WITH
    tc AS (
      SELECT token, COUNT(*) AS n
      FROM (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS token
            FROM documents)
      WHERE token <> '' GROUP BY token
    ),
    ranked AS (
      SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS DOUBLE)) AS x,
             LN(CAST(n AS DOUBLE)) AS y
      FROM tc
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
             {sql_dsum("x", 9)} AS sx, {sql_dsum("y", 9)} AS sy,
             {sql_dsum("x * x", 9)} AS sxx, {sql_dsum("y * y", 9)} AS syy,
             {sql_dsum("x * y", 9)} AS sxy
      FROM ranked
    )
    SELECT n_terms,
           ROUND((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)) * sx)
                 / n_terms, 6) AS intercept,
           ROUND(((n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy))
                 / ((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    tags=("text", "stats"),
)
def term_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS Zipf fit over the corpus term-frequency table:
    (n_terms, slope, intercept, r2) of ln(freq) ~ ln(rank)."""
    from pyspark.sql import Window as W

    from ._exact import dsum

    tc = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = W.orderBy(F.desc("n"), F.asc("token"))  # vocab-sized sort (Heaps)
    ranked = tc.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        dsum("x", 9).alias("sx"),
        dsum("y", 9).alias("sy"),
        dsum(F.col("x") * F.col("x"), 9).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 9).alias("syy"),
        dsum(F.col("x") * F.col("y"), 9).alias("sxy"),
    )
    n, sx, sy = F.col("n_terms"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "n_terms",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# TF-IDF: the classic text-weighting pipeline, fully SQL-expressible so
# it gets a real oracle.  Scale shape: two shuffles (doc-term tf, term
# df); the per-term document-frequency table is tiny relative to the
# token stream, so the idf join broadcasts; top-3 per doc is a window
# over the already-aggregated (doc, term) frame -- the token explode
# itself never leaves its stage.  Smooth idf = ln((N+1)/(df+1)) + 1
# (sklearn's smoothing, public), rounded to 6 dp on both engines to
# absorb ln() last-ulp differences.
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * (LN((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    tokens = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))  # lazy scalar, no collect
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Concat-and-split sequence packing (operators/packing.py): the
# GPT-style packing manifest over the documents corpus at a 512-token
# budget.  The oracle replays the same global prefix sum with a window
# cumsum + generate_series; the engine side is the distributed scan
# (range partition -> P-row offset collect -> parallel per-partition
# cumsum), so a hash match here proves the distributed formulation
# equals the sequential one.
# --------------------------------------------------------------------------
_PACK_SPANS_SQL = r"""
    WITH t AS (
      SELECT doc_id, CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS n
      FROM documents
    ), c AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS BIGINT) AS s
      FROM t WHERE n > 0
    ), e AS (SELECT doc_id, n, s, s + n AS fin FROM c),
    x AS (
      SELECT doc_id, s, fin,
             UNNEST(generate_series(s // 512, (fin - 1) // 512)) AS seq_id
      FROM e
    ),
    manifest AS (
      SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
             GREATEST(seq_id * 512 - s, 0) AS doc_offset,
             LEAST(fin, (seq_id + 1) * 512) - GREATEST(s, seq_id * 512)
               AS tokens_in_seq,
             GREATEST(s - seq_id * 512, 0) AS seq_offset
      FROM x
    )
"""


@register(
    "packed_doc_manifest",
    oracle=_PACK_SPANS_SQL
    + """
    SELECT * FROM manifest ORDER BY seq_id, doc_id
    """,
    tags=("packing", "text"),
)
def packed_doc_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import concat_split_pack

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return concat_split_pack(docs, "doc_id", "n_tokens", budget=512).orderBy(
        "seq_id", "doc_id"
    )


@register(
    "packed_seq_stats",
    oracle=_PACK_SPANS_SQL
    + """
    SELECT seq_id, COUNT(*) AS n_pieces, SUM(tokens_in_seq) AS n_tokens
    FROM manifest GROUP BY seq_id ORDER BY seq_id
    """,
    tags=("packing", "text", "agg"),
)
def packed_seq_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import concat_split_pack, pack_stats

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_stats(concat_split_pack(docs, "doc_id", "n_tokens", budget=512))


# --------------------------------------------------------------------------
# Custom Python data source (sources/pydatasource.py): corpus stats
# over the synthetic_corpus source.  Content is a pure function of
# doc_id (synth_doc), so the oracle aggregates a precomputed per-doc
# expected table (tools/gen_text_expected.py) -- verifying that the
# source's partition planning + read plumbing delivers exactly
# synth_doc(i) for every id, independent of partition count.
# --------------------------------------------------------------------------
@register(
    "synthetic_corpus_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_docs,
           SUM(n_tokens) AS total_tokens,
           COUNT(DISTINCT text_md5) AS distinct_texts,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM read_parquet('{_TEXT_EXPECTED}/synth_corpus.parquet')
    """,
    tags=("source", "pydatasource"),
)
def synthetic_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_synthetic_corpus

    register_synthetic_corpus(spark)
    corpus = (
        spark.read.format("synthetic_corpus")
        .option("n_docs", 2000)
        .option("n_partitions", 8)
        .load()
    )
    return corpus.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("text").alias("distinct_texts"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# Epoch reshuffle (operators/sampling.py): the epoch-3 permutation of
# the documents corpus, carried as an explicit portable sort key so the
# oracle can verify the exact permutation (the driver compare is
# order-insensitive, so the ORDER itself must be data).
# --------------------------------------------------------------------------
@register(
    "epoch_shuffled_docs",
    oracle="""
    SELECT doc_id,
           MD5('3:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key
    """,
    tags=("shuffle", "training"),
)
def epoch_shuffled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import epoch_shuffle

    return epoch_shuffle(
        _docs(spark, sf_dir).select("doc_id"), "doc_id", epoch=3
    ).select("doc_id", "shuffle_key")


# --------------------------------------------------------------------------
# Flagship curation pipeline: the three pipeline stages COMPOSED --
# native quality gate -> fingerprint dedup (deterministic survivor) ->
# concat-and-split packing -- as ONE oracle-checked query.  Each stage
# is individually verified elsewhere (text_quality, 
# fingerprint_dedup_survivors, packed_doc_manifest); this entry proves
# the composition: the oracle replays all three stages sequentially in
# SQL, so a hash match certifies the whole curated-corpus manifest.
# --------------------------------------------------------------------------
@register(
    "curated_corpus_manifest",
    oracle=r"""
    WITH stats AS (
      SELECT doc_id, text,
             CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS n,
             MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    quality AS (SELECT * FROM stats WHERE n >= 20 AND n <= 2000),
    dedup AS (
      SELECT doc_id, n FROM (
        SELECT doc_id, n,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    c AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - n AS BIGINT) AS s
      FROM dedup WHERE n > 0
    ),
    e AS (SELECT doc_id, n, s, s + n AS fin FROM c),
    x AS (
      SELECT doc_id, s, fin,
             UNNEST(generate_series(s // 512, (fin - 1) // 512)) AS seq_id
      FROM e
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           GREATEST(seq_id * 512 - s, 0) AS doc_offset,
           LEAST(fin, (seq_id + 1) * 512) - GREATEST(s, seq_id * 512)
             AS tokens_in_seq,
           GREATEST(s - seq_id * 512, 0) AS seq_offset
    FROM x ORDER BY seq_id, doc_id
    """,
    tags=("packing", "dedup", "text", "pipeline"),
)
def curated_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fingerprint_dedup
    from ..operators.packing import concat_split_pack

    stats = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    quality = stats.filter((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 2000))
    deduped = fingerprint_dedup(quality, "text", "doc_id").select(
        "doc_id", "n_tokens"
    )
    return concat_split_pack(deduped, "doc_id", "n_tokens", budget=512).orderBy(
        "seq_id", "doc_id"
    )


# --------------------------------------------------------------------------
# PII scrub (functions/pii.py): detection flags + redaction over a
# corpus with deterministic synthetic PII injected per doc_id, so every
# pattern (email/ssn/card/ip/phone) and the chain ordering are actually
# exercised.  Both engines build the IDENTICAL augmented text; the
# patterns live in the Java-regex/RE2 intersection so the DuckDB oracle
# runs them verbatim (functions/pii.py module docstring).
# --------------------------------------------------------------------------
def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.pii import PII_PATTERNS  # noqa: F401  (doc pointer)

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.1")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call +1 555-123-4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(F.lit("")),
        ).alias("text"),
    )


_PII_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555-123-4567' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END
           AS text
    FROM documents
"""


def _pii_redacted_oracle() -> str:
    from ..functions.pii import sql_redact_pii

    return f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id, MD5({sql_redact_pii("text")}) AS redacted_md5
    FROM aug ORDER BY doc_id
    """


@register("pii_redacted_docs", oracle=_pii_redacted_oracle(), tags=("text", "pii", "pipeline"))
def pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrub: mask every PII span with its <TYPE> token.  Pure
    codegen'd map (5 fused regexp_replace) -- scan-speed at 100 TB; the
    md5 keeps the checked payload small while staying bit-sensitive to
    every replacement."""
    from ..functions.pii import redact_pii

    return (
        _pii_augmented(spark, sf_dir)
        .select("doc_id", F.md5(redact_pii("text")).alias("redacted_md5"))
        .orderBy("doc_id")
    )


def _pii_stats_oracle() -> str:
    from ..functions.pii import PII_PATTERNS, sql_pii_flag

    cols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN {sql_pii_flag('text', name)} THEN 1 ELSE 0 END) AS BIGINT) AS n_{name}"
        for name, _, _ in PII_PATTERNS
    )
    return f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           {cols}
    FROM aug
    """


@register("pii_stats", oracle=_pii_stats_oracle(), tags=("text", "pii"))
def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type PII document counts on the raw (pre-redaction) text:
    the audit table a scrub job emits next to its output."""
    from ..functions.pii import pii_flags

    aug = _pii_augmented(spark, sf_dir)
    flags = pii_flags("text")
    return aug.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(flag.cast("int")).cast("long").alias(f"n_{name}")
            for name, flag in flags.items()
        ],
    )


# --------------------------------------------------------------------------
# BM25 lexical relevance (functions/ranking.py): the retrieval-side
# score next to the embedding ANN path.  Scores round to 6 dp before
# the top-k cut: ln() may differ by an ULP between Java's Math.log and
# DuckDB's libm, and the per-doc 3-term sum is order-sensitive at the
# last bit -- 6 dp absorbs both while keeping the ordering honest.
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "shuffle", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ctes(terms: tuple[str, ...]) -> str:
    """The BM25 SQL pipeline for a given query-term set, ending in
    ``scored (doc_id, term, tf, s)`` -- shared by the top-k query, the
    RRF hybrid's lexical arm, and the retrieval-eval harness (which
    evaluates a wider query set than the fixed 3-term headline)."""
    return f"""
    toks AS (
      SELECT doc_id, t.term
      FROM documents, UNNEST(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')) AS t(term)
      WHERE t.term <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
    ),
    q AS (SELECT doc_id, term FROM toks WHERE term IN {str(tuple(terms))}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM q GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             LN(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1} * ((1.0 - {_BM25_B}) + {_BM25_B} * dl.len / stats.avgdl))
               AS s
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
"""


#: shared BM25 SQL pipeline (also the lexical arm of the RRF hybrid)
_BM25_SCORED_CTES = _bm25_ctes(_BM25_TERMS)


@register(
    "bm25_top_docs",
    oracle=f"""
    WITH
    {_BM25_SCORED_CTES}
    SELECT doc_id, ROUND(SUM(s), 6) AS score, COUNT(*) AS n_matched_terms
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 50
    """,
    tags=("text", "ranking"),
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 relevance for a fixed 3-term query."""
    from ..functions.ranking import bm25_scores

    scores = bm25_scores(
        _docs(spark, sf_dir), list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B
    )
    return (
        scores.select(
            "doc_id", F.round("score", 6).alias("score"), "n_matched_terms"
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Retrieval evaluation (operators/ir_eval.py): each BM25 query term is
# its own evaluated query; graded qrels derive from term frequency
# (rel = min(tf, 3) -- the "how centrally does the doc mention the
# term" proxy), so the whole TREC-style harness -- run building, ideal
# ranking, recall/precision/MRR/nDCG -- replays in SQL.  Ranks order by
# the 6-dp-rounded score (ULP-stable) with doc_id tie-break; DCG sums
# are 9-dp fixed-point (order-independent across engines).  The three
# eval rows (BM25, hybrid, ANN) build their shared inputs through the
# helpers below and their oracles share one metric template.
# --------------------------------------------------------------------------
_EVAL_K = 10
#: the evaluated query set: one single-term query per term ("shuffle"
#: from the headline triple is absent from the synthetic vocabulary,
#: so the eval set swaps it for five terms that appear at every SF)
_EVAL_TERMS = ("data", "join", "spark", "stream", "vector", "window")


def _eval_metric_sql(arms: tuple[str, ...]) -> str:
    """The metric CTEs every eval oracle ends with: reads ``scored``
    (the BM25 pipeline) and ``run (retriever, query_term, doc_id,
    rnk)``, ends in ``metrics`` -- one row per (arm, qrels query), the
    SQL replay of ``retrieval_metrics``."""
    retr = " UNION ALL ".join(f"SELECT '{a}' AS retriever" for a in arms)
    return f"""
    qrels AS (SELECT term AS query_term, doc_id, LEAST(tf, 3) AS rel FROM scored),
    hits AS (
      SELECT r.retriever, r.query_term, r.rnk, COALESCE(q.rel, 0) AS rel
      FROM run r LEFT JOIN qrels q USING (query_term, doc_id)
    ),
    per_run AS (
      SELECT retriever, query_term,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_k,
             {sql_dsum("(POW(2.0, rel) - 1.0) / LOG2(rnk + 1.0)", 9)} AS dcg,
             MAX(CASE WHEN rel > 0 THEN 1.0 / rnk END) AS rr
      FROM hits GROUP BY retriever, query_term
    ),
    ideal AS (
      SELECT query_term,
             {sql_dsum("(POW(2.0, rel) - 1.0) / LOG2(irank + 1.0)", 9)} AS idcg
      FROM (SELECT query_term, rel,
                   ROW_NUMBER() OVER (
                     PARTITION BY query_term ORDER BY rel DESC, doc_id) AS irank
            FROM qrels)
      WHERE irank <= {_EVAL_K} GROUP BY query_term
    ),
    nrel AS (SELECT query_term, CAST(COUNT(*) AS BIGINT) AS n_rel
             FROM qrels GROUP BY query_term),
    metrics AS (
      SELECT rt.retriever, n.query_term, n.n_rel,
             COALESCE(p.n_hit_k, 0) AS n_hit_k,
             ROUND(CAST(COALESCE(p.n_hit_k, 0) AS DOUBLE) / n.n_rel, 6) AS recall_at_k,
             ROUND(CAST(COALESCE(p.n_hit_k, 0) AS DOUBLE) / {_EVAL_K}.0, 6) AS precision_at_k,
             ROUND(COALESCE(p.rr, 0.0), 6) AS mrr_at_k,
             ROUND(CASE WHEN i.idcg > 0 THEN COALESCE(p.dcg, 0.0) / i.idcg
                        ELSE 0.0 END, 6) AS ndcg_at_k
      FROM ({retr}) rt
      CROSS JOIN nrel n
      JOIN ideal i USING (query_term)
      LEFT JOIN per_run p
        ON p.retriever = rt.retriever AND p.query_term = n.query_term
    )
"""


def _eval_per_term(docs: DataFrame, terms: tuple[str, ...] = _EVAL_TERMS) -> DataFrame:
    """Per-(term, doc) BM25 ``(query_term, doc_id, tf, score)``, eagerly
    checkpointed: it feeds the lexical run AND the qrels side (read 3x
    inside ``retrieval_metrics``: hits join, ideal topk, n_rel), so the
    one corpus-tokenizing build runs once and every consumer reads
    blocks (``session.release_pinned`` frees them).  SIDE EFFECT for
    plan-only consumers: merely BUILDING an eval row runs this job;
    inspect plans at a small SF."""
    from ..functions.ranking import bm25_per_term

    return bm25_per_term(docs, list(terms), k1=_BM25_K1, b=_BM25_B).localCheckpoint(
        eager=True
    )


def _tf_qrels(per: DataFrame) -> DataFrame:
    """The shared graded qrels: rel = min(tf, 3) per (term, doc)."""
    return per.select(
        "query_term", "doc_id", F.least(F.col("tf"), F.lit(3)).cast("int").alias("rel")
    )


def _normed_corpus(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """The retrievable corpus -- embeddings of ``docs`` (the
    hybrid_rrf_top_docs vec_id<->doc_id convention) -- with the L2 norm
    hoisted into ``__cn``: a projection BELOW the query broadcast join
    folds once per corpus row instead of once per (row, term)."""
    from .vector_queries import _sq_norm

    return emb.join(
        docs.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    ).withColumn("__cn", F.sqrt(_sq_norm(F.col("embedding"))))


def _cosine_topk(corpus: DataFrame, qv: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-``k`` per query: ``corpus`` from
    :func:`_normed_corpus`, ``qv`` (query_term, qv) -- one row per term,
    broadcast into a map-side expansion with the query norm hoisted;
    dot/(cn*qn) keeps the SQL oracles' exact IEEE op order, and the cut
    is ``grouped_topk`` (a partial per-term limit before its one
    exchange).  Returns (query_term, doc_id, rank)."""
    from ..functions.ranking import grouped_topk
    from .vector_queries import _dot, _sq_norm

    q = F.broadcast(
        qv.select(
            "query_term",
            F.col("qv").alias("__qv"),
            F.sqrt(_sq_norm(F.col("qv"))).alias("__qn"),
        )
    )
    cosine = _dot(F.col("embedding"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
    scores = corpus.join(q).select(
        "query_term", F.col("vec_id").alias("doc_id"), F.round(cosine, 6).alias("__cos")
    )
    return grouped_topk(
        scores, ["query_term"], [F.desc("__cos"), F.asc("doc_id")], k=k
    ).select("query_term", "doc_id", "rank")


@register(
    "bm25_eval_metrics",
    oracle=f"""
    WITH
    {_bm25_ctes(_EVAL_TERMS)},
    run AS (
      SELECT 'bm25' AS retriever, term AS query_term, doc_id, rnk FROM (
        SELECT term, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY term ORDER BY ROUND(s, 6) DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_EVAL_K}
    ),
    {_eval_metric_sql(("bm25",))}
    SELECT * EXCLUDE (retriever) FROM metrics ORDER BY query_term
    """,
    tags=("text", "ranking", "eval"),
)
def bm25_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style retrieval evaluation of the BM25 ranker: per query
    term, recall@10 / precision@10 / MRR@10 / nDCG@10 against graded
    tf-derived qrels -- the eval harness a RAG pipeline runs after
    every ranker or index change, fully distributed (no driver loop)."""
    from ..functions.ranking import grouped_topk
    from ..operators.ir_eval import retrieval_metrics

    per = _eval_per_term(_docs(spark, sf_dir))
    # run building: grouped_topk's partial per-term limit keeps a
    # term's corpus-sized match set from reaching one task whole
    run = grouped_topk(
        per,
        ["query_term"],
        [F.desc(F.round("score", 6)), F.asc("doc_id")],
        k=_EVAL_K,
    ).select("query_term", "doc_id", "rank")
    return (
        retrieval_metrics({"bm25": run}, _tf_qrels(per), k=_EVAL_K)
        .drop("retriever")
        .orderBy("query_term")
    )


#: RRF constant + per-arm candidate-list depth, shared by the hybrid
#: retriever (hybrid_rrf_top_docs) and its eval harness below
_RRF_K = 60
_RRF_LIST_N = 100


# --------------------------------------------------------------------------
# Hybrid-retriever evaluation: the SAME TREC harness scoring the
# PRODUCTION retriever (RRF fusion of lexical + semantic arms) instead
# of BM25 alone -- retrieval eval as a pipeline gate, not a one-off.
# Per eval term the semantic arm is pseudo-relevance feedback: the
# query vector is the embedding of the term's lexical #1 document
# (query-by-example expansion -- no out-of-band query embeddings
# needed, and every step replays in SQL).  Semantic candidates are the
# retrievable corpus (embeddings joined to document ids, the
# hybrid_rrf_top_docs vec_id<->doc_id convention).
# --------------------------------------------------------------------------


def _prf_hybrid_run(
    docs: DataFrame,
    emb: DataFrame,
    terms: tuple[str, ...] = _EVAL_TERMS,
    k: int = _EVAL_K,
) -> tuple[DataFrame, DataFrame]:
    """(run, qrels) for the PRF-hybrid retriever over ``docs``/``emb``:
    run = per-term top-``k`` by RRF fusion of the BM25 top-``_RRF_LIST_N``
    and the cosine top-``_RRF_LIST_N`` against the lexical #1 document's
    embedding; qrels = the tf-derived graded relevance the BM25 eval
    uses (shared, so hybrid vs lexical nDCG is apples-to-apples).

    Scale shape: both arms cut through ``grouped_topk`` (a partial
    per-term limit before its one exchange); fusion joins bounded
    (``_RRF_LIST_N``-row) lists per term.

    Coverage contract: the PRF query-vector join (top-1 doc -> its
    embedding) is INNER, so a term whose lexical #1 document had no
    embedding row would silently degrade to lexical-only fusion.  The
    fixture generator emits documents and embeddings 1:1 (every doc_id
    has a vec_id row), so no term is lost here; corpora without that
    guarantee should left-join and alert on null vectors
    (``ann_eval_metrics`` surfaces such a term as an all-zero row
    rather than dropping it)."""
    from ..functions.ranking import grouped_topk, rrf_fuse

    per = _eval_per_term(docs, terms)
    # `lex` is bounded (_RRF_LIST_N rows/term) but is read twice (PRF
    # top-1 and fusion), each read otherwise re-running the topk
    lex = (
        grouped_topk(
            per.select("query_term", "doc_id", F.round("score", 6).alias("__s")),
            ["query_term"],
            [F.desc("__s"), F.asc("doc_id")],
            k=_RRF_LIST_N,
        )
        .select("query_term", "doc_id", "rank")
        .localCheckpoint(eager=True)
    )

    top1 = lex.filter(F.col("rank") == 1).select("query_term", "doc_id")
    qv = top1.join(emb, top1["doc_id"] == emb["vec_id"]).select(
        "query_term", F.col("embedding").alias("qv")
    )
    sem = _cosine_topk(_normed_corpus(docs, emb), qv, _RRF_LIST_N)

    fused = rrf_fuse({"lex": lex, "sem": sem}, k=_RRF_K, group_cols=["query_term"])
    run = grouped_topk(
        fused,
        ["query_term"],
        [F.desc("rrf_score"), F.asc("doc_id")],
        k=k,
    ).select("query_term", "doc_id", "rank")
    return run, _tf_qrels(per)


@register(
    "hybrid_eval_metrics",
    oracle=f"""
    WITH
    {_bm25_ctes(_EVAL_TERMS)},
    lex_top AS (
      SELECT term AS query_term, doc_id, rnk FROM (
        SELECT term, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY term ORDER BY ROUND(s, 6) DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk <= {_RRF_LIST_N}
    ),
    qv AS (
      SELECT l.query_term, CAST(e.embedding AS DOUBLE[]) AS v
      FROM lex_top l JOIN embeddings e ON e.vec_id = l.doc_id
      WHERE l.rnk = 1
    ),
    sem AS (
      SELECT qv.query_term, e.vec_id AS doc_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(
                      LIST_ZIP(CAST(e.embedding AS DOUBLE[]), qv.v),
                      p -> p[1] * p[2]))
                   / (SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
                      * SQRT(LIST_SUM(LIST_TRANSFORM(qv.v, x -> x * x)))), 6) AS cosine
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id
      CROSS JOIN qv
    ),
    sem_top AS (
      SELECT query_term, doc_id, rnk FROM (
        SELECT query_term, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_term ORDER BY cosine DESC, doc_id) AS rnk
        FROM sem
      ) WHERE rnk <= {_RRF_LIST_N}
    ),
    fused AS (
      SELECT COALESCE(l.query_term, s.query_term) AS query_term,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.rnk), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + s.rnk), 0.0), 6) AS rrf_score
      FROM lex_top l
      FULL JOIN sem_top s ON l.query_term = s.query_term AND l.doc_id = s.doc_id
    ),
    run AS (
      SELECT 'hybrid' AS retriever, query_term, doc_id, rnk FROM (
        SELECT query_term, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_term ORDER BY rrf_score DESC, doc_id) AS rnk
        FROM fused
      ) WHERE rnk <= {_EVAL_K}
    ),
    {_eval_metric_sql(("hybrid",))}
    SELECT * EXCLUDE (retriever) FROM metrics ORDER BY query_term
    """,
    tags=("text", "ranking", "eval", "vector"),
)
def hybrid_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style evaluation of the PRODUCTION hybrid retriever (RRF
    fusion of BM25 and PRF-cosine arms) against the same tf-derived
    qrels as ``bm25_eval_metrics`` -- the pipeline gate that shows
    whether fusion helps before a ranker change ships."""
    from ..operators.ir_eval import retrieval_metrics
    from .vector_queries import _emb

    run, qrels = _prf_hybrid_run(_docs(spark, sf_dir), _emb(spark, sf_dir))
    return (
        retrieval_metrics({"hybrid": run}, qrels, k=_EVAL_K)
        .drop("retriever")
        .orderBy("query_term")
    )


# --------------------------------------------------------------------------
# ANN-retriever evaluation: the SAME TREC harness scoring the exact
# cosine retriever against its two deterministic-quantizer ANN
# approximations (IVF: ml.deterministic k-means cells; PQ:
# per-sub-space deterministic codebooks) side by side -- the
# retrieval-QUALITY loss of each index becomes checked data, not just
# a self-reported recall number.  Query vectors are the PRF expansion
# the hybrid eval uses (embedding of each term's lexical #1 document);
# qrels are the shared tf-derived grades, so exact vs IVF vs PQ nDCG
# is apples-to-apples with the BM25 and hybrid rows.
#
# Fixture note (the _prf_hybrid_run coverage contract): every doc_id
# is guaranteed an embedding row by fixture construction (documents
# and embeddings are generated 1:1), so the PRF inner join loses no
# eval term; a term that DID lose its vector would still appear here,
# scoring 0 through retrieval_metrics' left join -- visible, not
# silent.
# --------------------------------------------------------------------------
from .mlops import (  # noqa: E402  (oracle builds need these at module level)
    _DEDUP_EXPECTED,
    _EMB_MD5_SQL,
    _IVF_DET_NPROBE,
    _PQ_DET_DSUB,
    _PQ_DET_REFINE,
)


@register(
    "ann_eval_metrics",
    oracle=f"""
    WITH
    {_bm25_ctes(_EVAL_TERMS)},
    qv0 AS (
      SELECT term AS query_term, doc_id FROM (
        SELECT term, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY term ORDER BY ROUND(s, 6) DESC, doc_id) AS rnk
        FROM scored
      ) WHERE rnk = 1
    ),
    qv AS (
      SELECT l.query_term, CAST(e.embedding AS DOUBLE[]) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x))) AS qn
      FROM qv0 l JOIN embeddings e ON e.vec_id = l.doc_id
    ),
    corpus AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x))) AS cn
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    exact_run AS (
      SELECT 'exact' AS retriever, query_term, doc_id, rnk FROM (
        SELECT q.query_term, c.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_term ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.v, q.v), p -> p[1] * p[2]))
                       / (c.cn * q.qn), 6) DESC, c.vec_id) AS rnk
        FROM corpus c CROSS JOIN qv q
      ) WHERE rnk <= {_EVAL_K}
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
      SELECT q.query_term, cent.cell,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.v, cent.cvec),
                                           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d2
      FROM qv q CROSS JOIN cent
    ),
    probes AS (
      SELECT query_term, cell FROM pd
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_term ORDER BY d2, cell) <= {_IVF_DET_NPROBE}
    ),
    ivf_run AS (
      SELECT 'ivf_det' AS retriever, query_term, doc_id, rnk FROM (
        SELECT p.query_term, c.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_term ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.v, q.v), t -> t[1] * t[2]))
                       / (c.cn * q.qn), 6) DESC, c.vec_id) AS rnk
        FROM probes p
        JOIN asg a ON a.cluster = p.cell
        JOIN corpus c ON c.vec_id = a.vec_id
        JOIN qv q ON q.query_term = p.query_term
      ) WHERE rnk <= {_EVAL_K}
    ),
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
    nq AS (SELECT query_term, LIST_TRANSFORM(v, x -> x / qn) AS nv FROM qv),
    lut AS (
      SELECT n.query_term, bk.sub, bk.cid,
             CAST(ROUND(LIST_SUM(LIST_TRANSFORM(
                    LIST_ZIP(n.nv[bk.sub * {_PQ_DET_DSUB} + 1 : (bk.sub + 1) * {_PQ_DET_DSUB}],
                             bk.cvec),
                    p -> p[1] * p[2])), 6) AS DECIMAL(38,6)) AS ip
      FROM nq n CROSS JOIN bk
    ),
    adc AS (
      SELECT l.query_term, co.vec_id, SUM(l.ip) AS adc
      FROM codes c
      JOIN corpus co ON co.vec_id = c.vec_id
      JOIN lut l USING (sub, cid)
      GROUP BY l.query_term, co.vec_id
    ),
    pq_short AS (
      SELECT query_term, vec_id FROM adc
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_term ORDER BY adc DESC, vec_id) <= {_PQ_DET_REFINE * _EVAL_K}
    ),
    pq_run AS (
      SELECT 'pq_det' AS retriever, query_term, doc_id, rnk FROM (
        SELECT s.query_term, c.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_term ORDER BY
                 ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(c.v, q.v), t -> t[1] * t[2]))
                       / (c.cn * q.qn), 6) DESC, c.vec_id) AS rnk
        FROM pq_short s
        JOIN corpus c ON c.vec_id = s.vec_id
        JOIN qv q ON q.query_term = s.query_term
      ) WHERE rnk <= {_EVAL_K}
    ),
    run AS (
      SELECT * FROM exact_run
      UNION ALL SELECT * FROM ivf_run
      UNION ALL SELECT * FROM pq_run
    ),
    {_eval_metric_sql(("exact", "ivf_det", "pq_det"))}
    SELECT * FROM metrics ORDER BY retriever, query_term
    """,
    tags=("text", "ranking", "eval", "vector", "similarity", "ml"),
)
def ann_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREC-style evaluation of exact vs deterministic-IVF vs
    deterministic-PQ retrieval over the PRF query vectors, against the
    same tf-derived qrels as the BM25/hybrid rows -- the index-quality
    gate: how much nDCG/recall each ANN index trades for its speed and
    memory, as oracle-checked data."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from ..functions.ranking import grouped_topk
    from ..operators.ir_eval import retrieval_metrics
    from ..operators.similarity import ivf_search_assigned, pq_search_coded
    from .mlops import _det_kmeans, _det_pq
    from .vector_queries import _emb

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    # `per`, `corpus` and `qv` are each consumed by SEVERAL arms (the PQ
    # arm alone references the query vectors twice: LUT build and
    # re-rank) -- without a cut, building three runs + qrels
    # re-tokenizes the corpus ~10x, so each is an eager localCheckpoint
    # (the curated_corpus_v4 single-build pattern).
    # `per` and `corpus` are INDEPENDENT eager materializations: two
    # driver threads submit them concurrently instead of leaving the
    # cluster idle between two small jobs (guide section 2.6 "overlap
    # independent jobs").  Both targets are wrapped in
    # inheritable_thread_target so the caller's job group, local
    # properties and tags cover the checkpoint jobs too.
    _inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_per = _pool.submit(_inherit(_eval_per_term), docs)
        _f_corpus = _pool.submit(
            _inherit(lambda: _normed_corpus(docs, emb).localCheckpoint(eager=True))
        )
        per = _f_per.result()
        corpus = _f_corpus.result()
    top1 = grouped_topk(
        per.select("query_term", "doc_id", F.round("score", 6).alias("__s")),
        ["query_term"],
        [F.desc("__s"), F.asc("doc_id")],
        k=1,
    ).select("query_term", "doc_id")
    # 6 rows; checkpointing makes every arm's broadcast read a
    # LogicalRDD instead of re-running topk-over-BM25
    qv = (
        top1.join(emb, top1["doc_id"] == emb["vec_id"])
        .select("query_term", F.col("embedding").alias("qv"))
        .localCheckpoint(eager=True)
    )

    # exact arm: brute-force cosine (the hybrid's semantic arm)
    exact_run = _cosine_topk(corpus, qv, _EVAL_K)

    # IVF arm: probe the deterministic k-means cells
    assignments, centroids = _det_kmeans(spark, sf_dir)
    ivf_run = ivf_search_assigned(
        corpus,
        assignments,
        centroids,
        qv,
        k=_EVAL_K,
        nprobe=_IVF_DET_NPROBE,
        query_id="query_term",
        query_vec="qv",
    ).select("query_term", F.col("vec_id").alias("doc_id"), "rank")

    # PQ arm: ADC over the deterministic codes, exact re-rank
    codes, books = _det_pq(spark, sf_dir)
    codes_c = codes.join(corpus.select("vec_id"), "vec_id", "left_semi")
    pq_run = pq_search_coded(
        corpus,
        codes_c,
        books,
        qv,
        k=_EVAL_K,
        refine=_PQ_DET_REFINE,
        query_id="query_term",
        query_vec="qv",
    ).select("query_term", F.col("vec_id").alias("doc_id"), "rank")

    # one harness call: ideal-DCG and n_rel (arm-invariant, corpus-scale
    # qrels aggregates) compute ONCE instead of per arm
    return retrieval_metrics(
        {"exact": exact_run, "ivf_det": ivf_run, "pq_det": pq_run},
        _tf_qrels(per),
        k=_EVAL_K,
    ).orderBy("retriever", "query_term")


# --------------------------------------------------------------------------
# Weighted sampling (operators/sampling.py weighted_sample_k): A-ES
# exponential keys over a PORTABLE integer-arithmetic uniform, so the
# oracle replays the exact draw -- a seeded weighted sample that any
# engine reproduces row-for-row.
# --------------------------------------------------------------------------
@register(
    "weighted_doc_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             -LN((((48271 * ((48271 * (((doc_id % 2147483647) + 2147483647) % 2147483647) + 42) % 2147483647)
                    + 12820163) % 2147483647) + 1.0) / 2147483648.0)
               / CAST(n_chars AS DOUBLE) AS sample_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    r AS (
      SELECT doc_id, lang, n_chars, sample_key,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY sample_key, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, lang, n_chars, ROUND(sample_key, 6) AS sample_key
    FROM r WHERE rn <= 5
    ORDER BY lang, doc_id
    """,
    tags=("sampling", "text"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 docs per language, selection probability proportional to
    n_chars (longer docs favored) -- deterministic weighted sampling
    without replacement, reproduced exactly by the SQL oracle."""
    from ..operators.sampling import weighted_sample_k

    out = weighted_sample_k(
        _docs(spark, sf_dir), ["lang"], "doc_id", "n_chars", k=5, seed=42
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.round("sample_key", 6).alias("sample_key")
    ).orderBy("lang", "doc_id")


# --------------------------------------------------------------------------
# Real BPE tokenization (operators/bpe.py): merge table trained on a
# bounded driver sample (deterministic merge order), distributed
# Arrow-batched encode.  The merge algorithm is hand-verified against
# the textbook example in tests/test_bpe.py AND the full train+encode
# is replicated by an independent implementation of the published
# algorithm (tools/gen_bpe_expected.py) feeding the oracle below.
# --------------------------------------------------------------------------
_BPE_EXPECTED = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "expected_dedup")
)
_BPE_CORPUS_MD5_SQL = "(SELECT md5(string_agg(md5(text), '' ORDER BY doc_id)) FROM documents)"


@register(
    "bpe_token_stats",
    oracle=f"""
    SELECT doc_id, n_words, n_tokens, tokens_per_word
    FROM read_parquet('{_BPE_EXPECTED}/bpe_token_stats.parquet')
    WHERE corpus_md5 = {_BPE_CORPUS_MD5_SQL}
    ORDER BY doc_id
    """,
    tags=("text", "tokenize"),
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token counts vs whitespace word counts: the
    compression a 200-merge vocabulary achieves on the fixture corpus
    (merge table trained once on <=2000 sampled docs, broadcast)."""
    from ..operators.bpe import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    # sample_docs covers every fixture corpus IN FULL (<= 10k docs), so
    # training sees a deterministic set regardless of scan order and the
    # replication oracle can retrain on the identical corpus; at real
    # scale the bound is what makes driver-side training safe
    merges = bpe_train(docs, num_merges=200, sample_docs=10_000)
    enc = bpe_encode(docs, merges)
    words = docs.select(
        "doc_id", F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("n_words")
    )
    return (
        enc.join(words, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_words")).alias("tokens_per_word"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Bigram language model (operators/ngram_lm.py): the "perplexity
# filter" stage of a pretraining pipeline -- score every document
# under an add-alpha bigram LM trained on the corpus itself.  The
# per-bigram log-probs are quantized to 9 dp fixed-point before the
# per-doc sum (queries/_exact pattern), so the oracle replays the
# whole train+score pipeline exactly in SQL.
# --------------------------------------------------------------------------
_LM_ALPHA = 0.5
_LM_BIGRAM_CTES = r"""
    arr AS (
      SELECT doc_id,
             ['<s>'] || list_filter(
               string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_slice(toks, 1, len(toks) - 1)) AS v,
             unnest(list_slice(toks, 2, len(toks))) AS w
      FROM arr
    ),
    counts AS (SELECT v, w, COUNT(*) AS c_vw FROM big GROUP BY 1, 2)
"""

#: shared LM scoring CTEs (context totals, vocab, per-bigram fixed-point
#: log-probs) -- single definition so the three LM oracles cannot drift
_LM_SCORED_CTES = f"""
    ctx AS (SELECT v, SUM(c_vw) AS c_v FROM counts GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT w) AS v_size FROM counts),
    lm_scored AS (
      SELECT b.doc_id,
             {sql_fx(f"LN((COALESCE(c.c_vw, 0) + {_LM_ALPHA}) / (x.c_v + {_LM_ALPHA} * vocab.v_size))", 9)} AS lp_fx
      FROM big b
      LEFT JOIN counts c ON b.v = c.v AND b.w = c.w
      JOIN ctx x ON b.v = x.v
      CROSS JOIN vocab
    )
"""


@register(
    "lm_top_bigrams",
    oracle=f"""
    WITH
    {_LM_BIGRAM_CTES}
    SELECT v, w, c_vw
    FROM counts
    ORDER BY c_vw DESC, v, w
    LIMIT 20
    """,
    tags=("text", "lm"),
)
def lm_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams by count (the training-side artifact of
    the bigram LM; BOS-prefixed so first tokens are attested too)."""
    from ..operators.ngram_lm import bigram_lm_counts

    counts, _, _ = bigram_lm_counts(_docs(spark, sf_dir))
    return counts.orderBy(F.desc("c_vw"), "v", "w").limit(20)


@register(
    "doc_lm_scores",
    oracle=f"""
    WITH
    {_LM_BIGRAM_CTES},
    {_LM_SCORED_CTES}
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(lp_fx) AS DOUBLE) / 1e9 / COUNT(*), 6) AS avg_logprob,
           ROUND(EXP(-(CAST(SUM(lp_fx) AS DOUBLE) / 1e9 / COUNT(*))), 6) AS perplexity
    FROM lm_scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "lm"),
)
def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM score: mean negative-log-prob +
    perplexity under add-alpha smoothing (alpha=0.5, corpus-trained).
    High-perplexity documents are the gibberish/boilerplate candidates
    a perplexity filter drops."""
    from ..operators.ngram_lm import score_docs_bigram_lm

    return score_docs_bigram_lm(_docs(spark, sf_dir), alpha=_LM_ALPHA).orderBy(
        "doc_id"
    )


@register(
    "lm_perplexity_outliers",
    oracle=f"""
    WITH
    {_LM_BIGRAM_CTES},
    {_LM_SCORED_CTES},
    per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_bigrams,
             ROUND(EXP(-(CAST(SUM(lp_fx) AS DOUBLE) / 1e9 / COUNT(*))), 6) AS perplexity
      FROM lm_scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, perplexity
    FROM per_doc
    ORDER BY perplexity DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "lm"),
)
def lm_perplexity_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 highest-perplexity documents under the corpus bigram LM
    -- the drop candidates a perplexity filter would surface."""
    from ..operators.ngram_lm import score_docs_bigram_lm

    return (
        score_docs_bigram_lm(_docs(spark, sf_dir), alpha=_LM_ALPHA)
        .select("doc_id", "n_bigrams", "perplexity")
        .orderBy(F.desc("perplexity"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
# semantic ranking via Reciprocal Rank Fusion (functions/ranking.py
# rrf_fuse).  Both arms cut to a deterministic top-100 candidate list
# FIRST (TakeOrderedAndProject; the rank window then runs over <=100
# rows, driver-bounded), so fusion cost is independent of corpus size
# -- the RAG-retrieval shape at 100 TB.  Each RRF term is one IEEE
# division on an integer rank, added in fixed order: bit-identical
# cross-engine, so even the fused score is oracle-checked.
# --------------------------------------------------------------------------
@register(
    "hybrid_rrf_top_docs",
    oracle=f"""
    WITH
    {_BM25_SCORED_CTES},
    lex AS (
      SELECT doc_id, ROUND(SUM(s), 6) AS score
      FROM scored GROUP BY doc_id
    ),
    lex_top AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
      FROM lex QUALIFY r <= {_RRF_LIST_N}
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT e.vec_id AS doc_id,
             ROUND(LIST_SUM(LIST_TRANSFORM(
                      LIST_ZIP(CAST(e.embedding AS DOUBLE[]), qv.v),
                      p -> p[1] * p[2]))
                   / (SQRT(LIST_SUM(LIST_TRANSFORM(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
                      * SQRT(LIST_SUM(LIST_TRANSFORM(qv.v, x -> x * x)))), 6) AS cosine
      FROM embeddings e, qv
      WHERE e.vec_id <> 0
    ),
    sem_top AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS r
      FROM sem QUALIFY r <= {_RRF_LIST_N}
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0.0)
                 + COALESCE(1.0 / ({_RRF_K} + s.r), 0.0), 6) AS rrf_score,
           l.r AS lex_rank,
           s.r AS sem_rank
    FROM lex_top l
    FULL JOIN sem_top s ON l.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 20
    """,
    tags=("text", "ranking", "vector"),
)
def hybrid_rrf_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by RRF fusion of a BM25 top-100 list (fixed
    3-term query) and a cosine top-100 list (query = embedding of
    vec_id 0, the knn_cosine_top10 convention, vec_id<->doc_id
    aligned)."""
    from ..functions.ranking import bm25_scores, ranked_topn, rrf_fuse
    from .vector_queries import _dot, _emb, _sq_norm

    lex_scores = bm25_scores(
        _docs(spark, sf_dir), list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", F.round("score", 6).alias("score"))
    lex = ranked_topn(lex_scores, "score", n=_RRF_LIST_N)

    emb = _emb(spark, sf_dir)
    query = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cosine = _dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qv")))
    )
    sem_scores = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select(F.col("vec_id").alias("doc_id"), F.round(cosine, 6).alias("cosine"))
    )
    sem = ranked_topn(sem_scores, "cosine", n=_RRF_LIST_N)

    fused = rrf_fuse({"lex": lex, "sem": sem}, k=_RRF_K)
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


# --------------------------------------------------------------------------
# Incremental (cross-shard) dedup (operators/dedup.py
# incremental_dedup*): the steady-state crawl-pipeline shape -- dedup
# an incoming shard against the already-curated corpus using only the
# corpus's fingerprint manifest, never its text.  Shard = doc_id % 10
# == 0, base = the rest (a deterministic 10% "new crawl").
# --------------------------------------------------------------------------
_INC_DEDUP_CTES = r"""
    fp AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents
    ),
    base AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 0),
    shard AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
    ann AS (
      SELECT s.doc_id, s.fingerprint,
             CASE
               WHEN b.fingerprint IS NOT NULL THEN 'dup_of_base'
               WHEN ROW_NUMBER() OVER (PARTITION BY s.fingerprint
                                       ORDER BY s.doc_id) > 1 THEN 'dup_in_shard'
               ELSE 'kept'
             END AS status
      FROM shard s LEFT JOIN base b ON s.fingerprint = b.fingerprint
    )
"""


@register(
    "incremental_shard_dedup",
    oracle=f"""
    WITH
    {_INC_DEDUP_CTES}
    SELECT doc_id, fingerprint
    FROM ann WHERE status = 'kept'
    ORDER BY doc_id
    """,
    tags=("text", "dedup"),
)
def incremental_shard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard docs that survive incremental dedup: new vs the curated
    base AND unique within the shard (deterministic min-id survivor)."""
    from ..operators.dedup import fingerprint, incremental_dedup

    docs = _docs(spark, sf_dir)
    base_fps = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(fingerprint("text").alias("fingerprint"))
        .distinct()
    )
    shard = docs.filter(F.col("doc_id") % 10 == 0)
    return (
        incremental_dedup(shard, base_fps, "text", "doc_id")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


@register(
    "incremental_shard_dedup_stats",
    oracle=f"""
    WITH
    {_INC_DEDUP_CTES}
    SELECT status, COUNT(*) AS n_docs
    FROM ann GROUP BY status
    ORDER BY status
    """,
    tags=("text", "dedup"),
)
def incremental_shard_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status counts of the incremental shard dedup (kept /
    dup_of_base / dup_in_shard) -- the monitoring rollup a pipeline
    alerts on when a crawl batch is mostly duplicates."""
    from ..operators.dedup import fingerprint, incremental_dedup_status

    docs = _docs(spark, sf_dir)
    base_fps = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(fingerprint("text").alias("fingerprint"))
        .distinct()
    )
    shard = docs.filter(F.col("doc_id") % 10 == 0)
    return (
        incremental_dedup_status(shard, base_fps, "text", "doc_id")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# Substring-level duplication (operators/substrings.py): repeated
# k-token windows corpus-wide + exact per-doc coverage of their
# interval union -- the scalable stand-in for suffix-array substring
# dedup.  k=5 suits the fixture doc lengths (the published pipelines
# use ~50-token windows on web text).
# --------------------------------------------------------------------------
_SUBSTR_K = 5
_SUBSTR_CTES = rf"""
    norm AS (
      SELECT doc_id,
             list_filter(string_split(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' '),
                         t -> t <> '') AS toks
      FROM documents
    ),
    win AS (
      SELECT doc_id, CAST(t.i + 1 AS BIGINT) AS pos,
             MD5(array_to_string(list_slice(toks, t.i + 1, t.i + {_SUBSTR_K}), ' ')) AS wh
      FROM norm, UNNEST(range(0, GREATEST(len(toks) - {_SUBSTR_K - 1}, 0))) AS t(i)
    ),
    dup AS (SELECT wh, COUNT(*) AS n_occurrences FROM win GROUP BY wh HAVING COUNT(*) >= 2)
"""


@register(
    "substring_dup_stats",
    oracle=f"""
    WITH
    {_SUBSTR_CTES},
    hits AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (wh)),
    swept AS (
      SELECT doc_id, pos,
             LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM hits
    ),
    cov AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN nxt IS NULL THEN {_SUBSTR_K}
                           ELSE LEAST({_SUBSTR_K}, nxt - pos) END) AS BIGINT) AS covered_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_dup_windows
      FROM swept GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(GREATEST(len(toks) - {_SUBSTR_K - 1}, 0) AS BIGINT) AS n_windows
      FROM norm
    )
    SELECT b.doc_id, b.n_tokens, b.n_windows,
           COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(c.covered_tokens, 0) AS covered_tokens,
           CASE WHEN b.n_tokens > 0
                THEN CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                ELSE 0.0 END AS dup_token_frac
    FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
    ORDER BY b.doc_id
    """,
    tags=("text", "dedup"),
)
def substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document substring-duplication report: how many k-token
    windows repeat corpus-wide and exactly how many tokens their
    interval union covers (the cut a substring-dedup pass would make)."""
    from ..operators.substrings import duplicated_span_stats

    return duplicated_span_stats(
        _docs(spark, sf_dir),
        k=_SUBSTR_K,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512),
    ).orderBy("doc_id")


@register(
    "substring_dup_hotspots",
    oracle=f"""
    WITH
    {_SUBSTR_CTES}
    SELECT wh, n_occurrences
    FROM dup
    ORDER BY n_occurrences DESC, wh
    LIMIT 20
    """,
    tags=("text", "dedup"),
)
def substring_dup_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most-repeated token windows (by hash) -- the boilerplate
    monitor in front of substring dedup.  The posting key is 16-byte
    binary internally (shuffle-width win); the hex form is re-derived
    only here, where the output contract needs it."""
    from ..operators.substrings import duplicated_windows, window_postings

    post = window_postings(_docs(spark, sf_dir), k=_SUBSTR_K)
    return (
        duplicated_windows(post)
        .select(F.lower(F.hex("wh")).alias("wh"), "n_occurrences")
        .orderBy(F.desc("n_occurrences"), "wh")
        .limit(20)
    )


@register(
    "substring_dedup_rewrite",
    oracle=f"""
    WITH
    {_SUBSTR_CTES},
    first_occ AS (
      SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
        SELECT w.wh, w.doc_id, w.pos,
               ROW_NUMBER() OVER (PARTITION BY w.wh ORDER BY w.doc_id, w.pos) AS rn
        FROM win w JOIN dup USING (wh)
      ) WHERE rn = 1
    ),
    removals AS (
      SELECT w.doc_id, w.pos
      FROM win w JOIN first_occ f USING (wh)
      WHERE NOT (w.doc_id = f.fdoc AND w.pos = f.fpos)
    ),
    swept AS (
      SELECT doc_id, pos, pos + {_SUBSTR_K - 1} AS e,
             MAX(pos + {_SUBSTR_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cm
      FROM removals
    ),
    grp AS (
      SELECT doc_id, pos, e,
             SUM(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT doc_id, pos, e,
                   LAG(cm) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
            FROM swept)
    ),
    merged AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g),
    tok AS (
      SELECT doc_id, CAST(t.i + 1 AS BIGINT) AS p, toks[t.i + 1] AS tk
      FROM norm, UNNEST(range(0, len(toks))) AS t(i)
    ),
    kept AS (
      SELECT tok.doc_id, tok.p, tok.tk
      FROM tok
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.doc_id = tok.doc_id AND tok.p BETWEEN m.s AND m.e)
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(tk, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT n.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
    FROM norm n LEFT JOIN agg a USING (doc_id)
    ORDER BY n.doc_id
    """,
    tags=("text", "dedup"),
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite step of exact substring dedup (Lee et al. 2022):
    every token covered by a non-first occurrence of a corpus-wide
    duplicated k-token window is removed (keep-first policy) and the
    cleaned text emitted -- ``substring_dup_stats`` is the report,
    this is the pass that actually cuts the corpus."""
    from ..operators.substrings import substring_dedup_rewrite as rewrite

    return rewrite(
        _docs(spark, sf_dir),
        k=_SUBSTR_K,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512),
    ).orderBy("doc_id")


@register(
    "substring_removed_counts",
    oracle=f"""
    WITH
    {_SUBSTR_CTES},
    first_occ AS (
      SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
        SELECT w.wh, w.doc_id, w.pos,
               ROW_NUMBER() OVER (PARTITION BY w.wh ORDER BY w.doc_id, w.pos) AS rn
        FROM win w JOIN dup USING (wh)
      ) WHERE rn = 1
    ),
    removals AS (
      SELECT w.doc_id, w.pos
      FROM win w JOIN first_occ f USING (wh)
      WHERE NOT (w.doc_id = f.fdoc AND w.pos = f.fpos)
    ),
    swept AS (
      SELECT doc_id, pos, pos + {_SUBSTR_K - 1} AS e,
             MAX(pos + {_SUBSTR_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cm
      FROM removals
    ),
    grp AS (
      SELECT doc_id, pos, e,
             SUM(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT doc_id, pos, e,
                   LAG(cm) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
            FROM swept)
    ),
    merged AS (SELECT doc_id, MIN(pos) AS s, MAX(e) AS e FROM grp GROUP BY doc_id, g)
    SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS removed
    FROM merged GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "dedup", "substring"),
)
def substring_removed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document REMOVED-token totals of the keep-first substring
    dedup pass -- the manifest-pricing operator curated_corpus_v4 uses
    (operators/substrings.removed_token_counts): the interval union is
    priced with ONE lead() sweep instead of materializing merged
    intervals.  The oracle deliberately replays the INTERVAL
    formulation (merge sweep -> SUM(e - s + 1)), so a green row
    certifies the sweep/merge union-size identity in SQL, not just in
    the unit test."""
    from ..operators.substrings import removed_token_counts

    return removed_token_counts(
        _docs(spark, sf_dir),
        k=_SUBSTR_K,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Flagship curation pipeline v4: SIX stages composed -- token-count
# quality gate -> corpus-derived P75 perplexity gate (exact distributed
# quantile via operators/quantiles.exact_quantiles, which matches
# quantile_cont bit-for-bit; the threshold rides into the plan as a
# broadcast 1-row join, the oracle replays it as a scalar subquery) ->
# fingerprint dedup -> SUBSTRING DEDUP REWRITE (keep-first removal of
# repeated k-token windows; the manifest carries each survivor's
# post-cut token count) -> TEMPERATURE-SCALED MIXTURE (T=2, 25% token
# budget over the rewritten corpus) -> concat-and-split packing.  One
# oracle replays all six stages in SQL, so a single hash match
# certifies the complete pretraining data recipe: quality, perplexity,
# exact dedup, substring dedup, domain mix, and packing.
# --------------------------------------------------------------------------
_CURATE_PPL_Q = 0.75
_CURATE_V4_MIX_FRAC = 0.25
_CURATE_V4_T = 2.0


@register(
    "curated_corpus_v4",
    oracle=rf"""
    WITH
    {{lm_bigram}},
    {{lm_scored}},
    ppl AS (
      SELECT doc_id,
             ROUND(EXP(-(CAST(SUM(lp_fx) AS DOUBLE) / 1e9 / COUNT(*))), 6) AS perplexity
      FROM lm_scored GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, source, text,
             -- NON-EMPTY tokens only: the Spark side gates on the LM's
             -- n_bigrams, which (BOS prefix) equals the count of
             -- non-empty whitespace tokens -- a raw split count would
             -- disagree on docs with leading/trailing tabs/newlines
             -- near the 20/2000 boundary (TRIM strips spaces only)
             CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(text), '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n,
             MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    quality AS (
      SELECT s.* FROM stats s JOIN ppl p USING (doc_id)
      WHERE s.n >= 20 AND s.n <= 2000
        AND p.perplexity <= (SELECT quantile_cont(perplexity, {_CURATE_PPL_Q})
                             FROM ppl)
    ),
    dd AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    norm AS (
      SELECT doc_id, source,
             list_filter(string_split(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g'), ' '),
                         t -> t <> '') AS toks
      FROM dd
    ),
    win AS (
      SELECT doc_id, CAST(t.i + 1 AS BIGINT) AS pos,
             MD5(array_to_string(list_slice(toks, t.i + 1, t.i + {_SUBSTR_K}), ' ')) AS wh
      FROM norm, UNNEST(range(0, GREATEST(len(toks) - {_SUBSTR_K - 1}, 0))) AS t(i)
    ),
    dup AS (SELECT wh FROM win GROUP BY wh HAVING COUNT(*) >= 2),
    first_occ AS (
      SELECT wh, doc_id AS fdoc, pos AS fpos FROM (
        SELECT w.wh, w.doc_id, w.pos,
               ROW_NUMBER() OVER (PARTITION BY w.wh ORDER BY w.doc_id, w.pos) AS rn
        FROM win w JOIN dup USING (wh)
      ) WHERE rn = 1
    ),
    removals AS (
      SELECT w.doc_id, w.pos
      FROM win w JOIN first_occ f USING (wh)
      WHERE NOT (w.doc_id = f.fdoc AND w.pos = f.fpos)
    ),
    swept AS (
      SELECT doc_id, pos, pos + {_SUBSTR_K - 1} AS e2,
             MAX(pos + {_SUBSTR_K - 1}) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cm
      FROM removals
    ),
    grp AS (
      SELECT doc_id, pos, e2,
             SUM(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
      FROM (SELECT doc_id, pos, e2,
                   LAG(cm) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
            FROM swept)
    ),
    merged AS (SELECT doc_id, MIN(pos) AS s2, MAX(e2) AS e3
               FROM grp GROUP BY doc_id, g),
    rem AS (SELECT doc_id, CAST(SUM(e3 - s2 + 1) AS BIGINT) AS n_removed
            FROM merged GROUP BY doc_id),
    sel AS (
      SELECT n.doc_id, n.source,
             CAST(len(n.toks) AS BIGINT) - COALESCE(r.n_removed, 0) AS kept
      FROM norm n LEFT JOIN rem r USING (doc_id)
      WHERE CAST(len(n.toks) AS BIGINT) - COALESCE(r.n_removed, 0) > 0
    ),
    tot AS (SELECT source, SUM(kept) AS dt FROM sel GROUP BY 1),
    gt AS (SELECT SUM(dt) AS t FROM tot),
    wr AS (SELECT source, POW(CAST(dt AS DOUBLE) / gt.t, {1.0 / _CURATE_V4_T}) AS w_raw
           FROM tot, gt),
    ws AS (SELECT SUM(w_raw) AS s3 FROM wr),
    bdg AS (
      SELECT source,
             ROUND(w_raw / ws.s3 * (SELECT {_CURATE_V4_MIX_FRAC} * t FROM gt), 6) AS budget
      FROM wr, ws
    ),
    rr AS (
      SELECT sel.*,
             SUM(kept) OVER (
               PARTITION BY source
               ORDER BY MD5(CONCAT('42:', CAST(doc_id AS VARCHAR))), doc_id
               ROWS UNBOUNDED PRECEDING) - kept AS cum_prev
      FROM sel
    ),
    mix AS (
      SELECT rr.doc_id, rr.kept FROM rr JOIN bdg USING (source)
      WHERE rr.cum_prev < bdg.budget
    ),
    c AS (
      SELECT doc_id, kept AS n,
             CAST(SUM(kept) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - kept AS BIGINT) AS s
      FROM mix
    ),
    e AS (SELECT doc_id, n, s, s + n AS fin FROM c),
    x AS (
      SELECT doc_id, s, fin,
             UNNEST(generate_series(s // 512, (fin - 1) // 512)) AS seq_id
      FROM e
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           GREATEST(seq_id * 512 - s, 0) AS doc_offset,
           LEAST(fin, (seq_id + 1) * 512) - GREATEST(s, seq_id * 512)
             AS tokens_in_seq,
           GREATEST(s - seq_id * 512, 0) AS seq_offset
    FROM x ORDER BY seq_id, doc_id
    """.format(lm_bigram=_LM_BIGRAM_CTES, lm_scored=_LM_SCORED_CTES),
    tags=("packing", "dedup", "text", "lm", "pipeline", "quantile",
          "mixture", "substring"),
)
def curated_corpus_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pretraining data recipe, certified by one oracle:
    quality gate -> corpus-derived P75 perplexity gate -> fingerprint
    dedup -> substring dedup rewrite (the manifest carries each
    survivor's post-cut token count; the clean text itself joins in at
    materialization via operators.substrings.substring_dedup_rewrite)
    -> temperature-scaled mixture (T=2, 25% token budget) ->
    concat-and-split packing."""
    from ..operators.dedup import fingerprint_dedup, normalize_text
    from ..operators.ngram_lm import score_docs_bigram_lm
    from ..operators.packing import concat_split_pack
    from ..operators.quantiles import exact_quantiles
    from ..operators.sampling import temperature_mixture
    from ..operators.substrings import removed_token_counts
    from ..plans.pinning import pinned_filter

    docs = _docs(spark, sf_dir)
    # ppl feeds the quantile AND the gate join; checkpoint so the
    # bigram-LM train+score (the pipeline's dominant cost) runs once
    # (measured at sf10: 89 -> ~55 s).
    # n_bigrams rides along as the token-count gate: with the BOS
    # prefix every token is some bigram's successor, so n_bigrams ==
    # the whitespace token count exactly for every document that can
    # pass the >= 20 gate (whitespace-only texts differ -- split
    # yields [""] = 1 token vs no LM row -- but both fail the gate),
    # and the corpus does NOT need a second full tokenization just to
    # count tokens (the old `stats` projection).
    ppl = (
        score_docs_bigram_lm(docs, alpha=_LM_ALPHA)
        .select("doc_id", F.col("n_bigrams").alias("n_tokens"), "perplexity")
        .localCheckpoint(eager=True)
    )
    # the quantile input is one ~16 B row per document (~1% of corpus
    # bytes), so size its range exchange at ~1/8 of the posting-stream
    # partitioning instead of inheriting the session default -- same
    # work, far fewer control-plane tasks across exact_quantiles' jobs
    cut = exact_quantiles(
        ppl.select(F.lit(1).alias("k"), "perplexity"),
        "k",
        "perplexity",
        [_CURATE_PPL_Q],
        num_partitions=max(
            8, (_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512) or 0) // 8
        ),
    ).select(F.col("value").alias("max_ppl"))
    quality = (
        docs.select("doc_id", "source", "text")
        .join(ppl, "doc_id")
        .join(F.broadcast(cut))
        .filter(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 2000)
            & (F.col("perplexity") <= F.col("max_ppl"))
        )
    )
    # dd feeds TWO consumers (the substring posting stream and the
    # token-count manifest below).  window_postings pushes its
    # isnotnull(doc_id) into ITS branch and prunes `source` out of it,
    # so without help the subtrees canonicalize differently and the
    # whole gate+dedup chain (docs scan, ppl join, fingerprint window
    # exchange) runs TWICE.  Carrying the same not-null filter plus a
    # pinned `source` reference on dd itself makes every consumer's
    # subtree identical -- Catalyst dedups the repeated predicate --
    # and the corpus-sized dedup exchange is built once (measured at
    # sf10: scan bytes halved 0.16 -> 0.08 GiB, shuffle write 1.05 ->
    # 0.86 GiB, value-hash identical; the r8 substring-exchange lesson
    # applied to the gate chain).
    dd = (
        # the fingerprint exchange is also the PARTITIONING of the
        # substring posting explode downstream -- size it with the
        # posting-stream byte gate (None below the gate = stock plan)
        # or its explode tasks buffer their whole split's window
        # expansion (2.2 GB spilled at fixtures/sf30 on the default 32)
        fingerprint_dedup(
            quality,
            "text",
            "doc_id",
            num_partitions=_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512),
        )
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
        .filter(pinned_filter(["source"]))
    )
    # substring rewrite stage: only the post-cut token COUNT rides the
    # manifest (kept = normalized tokens minus the removal-interval
    # union's size; removed_token_counts prices that union with one
    # lead() sweep instead of materializing merged intervals)
    removed = removed_token_counts(
        dd,
        k=_SUBSTR_K,
        agg_partitions=_jaccard_agg_partitions(spark, sf_dir, divisor_kib=512),
    ).withColumnRenamed("removed", "__rm")
    toks = F.filter(F.split(normalize_text(F.col("text")), " "), lambda x: x != "")
    # checkpoint the survivor manifest: the mixture total (control
    # plane), the mixture window, and packing's internal jobs all
    # consume it -- without this the LM + rewrite chain re-runs per
    # action (doc_id, source, kept: N x ~24 B, linear)
    # the mixture's token-budget total rides the checkpoint job as an
    # observation (r13): sum(kept) is computed DURING the
    # materialization -- zero extra jobs/scans vs the previous separate
    # agg().collect() pass over the checkpointed blocks (guide
    # section 5 driver/scheduling; same value by construction)
    from pyspark.sql import Observation

    _tot_obs = Observation("curate_v4_total")
    sel = (
        dd.select("doc_id", "source", F.size(toks).cast("long").alias("__n"))
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            (F.col("__n") - F.coalesce(F.col("__rm"), F.lit(0))).alias("kept"),
        )
        .filter(F.col("kept") > 0)
        .observe(_tot_obs, F.sum("kept").alias("total"))
        .localCheckpoint(eager=True)
    )
    total = _tot_obs.get["total"]  # 1-row control plane, no extra job
    mix = temperature_mixture(
        sel,
        "source",
        "kept",
        budget_tokens=_CURATE_V4_MIX_FRAC * total,
        temperature=_CURATE_V4_T,
    )
    return concat_split_pack(mix, "doc_id", "tokens", budget=512).orderBy(
        "seq_id", "doc_id"
    )


# --------------------------------------------------------------------------
# RAG retrieval chain (functions/embedder.py): chunk -> embed ->
# retrieve, composed and oracle-checked end to end.  The embedder is
# the documented deterministic stub (md5 pseudo-projection) with the
# real plumbing; chunking reuses the doc_chunks operator; retrieval is
# the broadcast-query brute-force shape.  One oracle certifies the
# whole chain.
# --------------------------------------------------------------------------
_RAG_QUERY_TEXT = "spark shuffle vector semantics"
_RAG_DIM = 8
_RAG_EMB_SQL = (
    "LIST_TRANSFORM(range(0, {dim}), j -> "
    "(CAST(CONCAT('0x', SUBSTR(MD5({expr} || ':' || j), 1, 12)) AS UBIGINT)::DOUBLE"
    " / 140737488355328.0) - 1.0)"
)


@register(
    "rag_chunk_retrieval",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'), ' ') AS t
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             UNNEST(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE})) AS chunk_start,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(t) + 1, {_CHUNK_STRIDE}),
               i -> ARRAY_TO_STRING(LIST_SLICE(t, i, i + {_CHUNK_SIZE - 1}), ' '))) AS chunk_text
      FROM toks
    ),
    emb AS (
      SELECT doc_id, chunk_start,
             {_RAG_EMB_SQL.format(dim=_RAG_DIM, expr='chunk_text')} AS ev
      FROM chunks
    ),
    q AS (SELECT {_RAG_EMB_SQL.format(dim=_RAG_DIM, expr=f"'{_RAG_QUERY_TEXT}'")} AS qv),
    scored AS (
      SELECT e.doc_id, e.chunk_start,
             ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.ev, q.qv), p -> p[1] * p[2]))
                   / (SQRT(LIST_SUM(LIST_TRANSFORM(e.ev, x -> x * x)))
                      * SQRT(LIST_SUM(LIST_TRANSFORM(q.qv, x -> x * x)))), 6) AS cosine
      FROM emb e CROSS JOIN q
    )
    SELECT doc_id, chunk_start, cosine
    FROM scored
    ORDER BY cosine DESC, doc_id, chunk_start
    LIMIT 5
    """,
    tags=("text", "vector", "chunking", "pipeline"),
)
def rag_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 chunks by cosine to a fixed query under the deterministic
    hash embedder: the chunk->embed->retrieve RAG chain in one
    oracle-checked plan (chunking and scoring all map-side; the top-5
    cut is TakeOrderedAndProject)."""
    from ..functions.embedder import hash_embedding
    from ..functions.text import token_chunks
    from .vector_queries import _dot, _sq_norm

    chunks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(token_chunks("text", _CHUNK_SIZE, _CHUNK_STRIDE)).alias("c"),
        )
        .select("doc_id", "c.chunk_start", "c.chunk_text")
    )
    emb = chunks.select(
        "doc_id", "chunk_start", hash_embedding("chunk_text", _RAG_DIM).alias("ev")
    )
    q = spark.range(1).select(
        hash_embedding(F.lit(_RAG_QUERY_TEXT), _RAG_DIM).alias("qv")
    )
    cosine = _dot(F.col("ev"), F.col("qv")) / (
        F.sqrt(_sq_norm(F.col("ev"))) * F.sqrt(_sq_norm(F.col("qv")))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .select("doc_id", "chunk_start", F.round(cosine, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id", "chunk_start")
        .limit(5)
    )
