"""Deduplication operators for training-data pipelines.

Four tiers, cheapest to most semantic:

1. ``exact_dedup``       -- hash-groupBy on raw bytes (one shuffle).
2. ``fingerprint_dedup`` -- exact on a normalized fingerprint
                            (case/whitespace-insensitive).
3. ``simhash``           -- 64-bit SimHash; near-dups differ in few bits.
4. ``minhash_near_dup_pairs`` -- MinHash+LSH banding via pyspark.ml
                            (shingle -> hashed term freq -> MinHashLSH
                            -> banded bucket join), the scale path for
                            pairwise Jaccard similarity.
5. ``ngram_jaccard_pairs`` -- exact Jaccard on shared-shingle candidate
                            pairs (inverted-index join; exact but
                            quadratic in the worst case -- use after LSH
                            blocking at 100 TB).

The reference itself only *declares* duplicate handling (reference
README.md:10 -- no dropDuplicates call exists in its code, SURVEY.md
section 2.2); the engine makes it real and scales it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal -- ``dropDuplicates`` (hash shuffle on the
    subset columns; first row per key wins, nondeterministic which).
    For a deterministic survivor use :func:`exact_dedup_keep_min`."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def exact_dedup_keep_min(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the row with the smallest
    ``order_col`` per key (window row_number -- one shuffle)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(F.asc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace: the fingerprint normalization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fingerprint(col: Column | str) -> Column:
    """128-bit hex fingerprint of normalized text (md5 -- stable across
    engines and Spark versions, unlike hash())."""
    return F.md5(normalize_text(col))


def fingerprint_dedup(
    df: DataFrame, text_col: str, id_col: str, num_partitions: int | None = None
) -> DataFrame:
    """Near-format dedup: group by normalized fingerprint, keep min id.

    ``num_partitions`` (r11) sizes the fingerprint exchange instead of
    inheriting ``spark.sql.shuffle.partitions``: the explicit
    ``repartition(n, __fp)`` satisfies the keep-min window's clustering
    requirement, so it REPLACES the window's own exchange (no second
    shuffle) while every downstream stage -- in curated_corpus_v4 the
    substring posting posexplode, whose shuffle-write sorter buffers
    its whole split's window expansion -- runs with n right-sized tasks
    instead of the session default.  Measured at fixtures/sf30: the
    default-32 survivor frame put ~65 MB of posting expansion per task
    sorter and spilled the full 2.2 GB posting exchange; sized, 0.
    None keeps the stock plan (every committed SF through sf10)."""
    keyed = df.withColumn("__fp", fingerprint(text_col))
    if num_partitions is not None:
        keyed = keyed.repartition(num_partitions, "__fp")
    return exact_dedup_keep_min(keyed, ["__fp"], id_col).drop("__fp")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct), the MinHash/Jaccard unit.

    Built by zipping the token array with its shifted selves (n-1
    ``zip_with`` passes, all array-level) rather than per-index
    ``slice``/``element_at`` inside a ``transform`` -- ~4x faster on the
    interpreted higher-order-function path.  ``zip_with`` pads the
    shorter side with null and ``concat_ws`` skips nulls, so the tail
    holds short (n-1)-grams; the final ``slice`` to k drops them.
    """
    c = F.col(col) if isinstance(col, str) else col
    # empty/whitespace-only text splits to [""] -- drop it, or every
    # empty doc shares one bogus "" shingle (a hot key at corpus scale)
    tokens = F.filter(F.split(normalize_text(c), " "), lambda x: x != "")
    k = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    acc = tokens
    for j in range(1, n):
        shifted = F.slice(tokens, j + 1, F.greatest(F.size(tokens) - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(F.slice(acc, 1, k))


def simhash64(col: Column | str, n_shingles: int = 2) -> Column:
    """64-bit SimHash over word shingles, fully JVM-side.

    Per shingle: xxhash64 -> per-bit +/-1 votes -> majority sign per bit
    -> packed 64-bit signature.  Near-duplicate texts land within a few
    bits (compare with ``bit_count_xor``).  No Python boundary, no
    shuffle -- a pure map, so it scales linearly.

    Single ``aggregate`` pass with an array-of-64-counters accumulator:
    one compact expression tree (a 64-aggregate formulation takes
    Catalyst ~20s to analyze and re-walks the shingle array per bit).
    """
    shingles = word_shingles(col, n_shingles)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    # signed 64-bit masks, one per bit (bit 63 wraps to the sign bit)
    masks = F.array(
        *[
            F.lit((1 << b) - (1 << 64) if b == 63 else 1 << b).cast("long")
            for b in range(64)
        ]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash64_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingles: int = 2,
    chunk_shingles: int = 1 << 18,
) -> DataFrame:
    """(id, simhash): the DataFrame-level SimHash path for corpus-scale
    signing -- value-identical to ``simhash64`` (tests pin parity).

    The Column form's majority vote is S x 64 *interpreted*
    higher-order-function lambda evaluations per document (zip_with +
    transform over 64 masks per shingle) -- measured as the dominant
    cost of the signatures query at sf10 (guide section 4.2: JVM
    row-at-a-time expression evaluation is slow at bulk bit math).
    Here the JVM side stops at what it is uniquely good at -- tokenize,
    shingle, ``xxhash64`` (keeping bit parity with the Column form and
    the spec-Python oracle) -- and ONLY (id, hash array) crosses the
    Arrow boundary into a numpy kernel.  Per-doc payload is 8 bytes per
    shingle; no other column ships (the ``select`` below is the guide
    section 4's explicit projection before an opaque op).

    Kernel shape (measured, sf10 microbench per 10k-doc batch): the
    obvious ``unpackbits`` -> ``cumsum(axis=0)`` segmented vote walks
    the (S, 64) bit matrix column-strided and ran 2.2 s/batch -- SLOWER
    than the JVM HOF it replaces; per-BIT ``(h >> b) & 1`` + a 1-D
    segmented sum keeps every pass contiguous and ran 0.12 s/batch
    (18x, measured with ``np.add.reduceat``).  The segmented sum is
    the difference of a 1-D exclusive prefix sum at the segment
    bounds, so zero-shingle docs (empty segments, anywhere in the
    chunk) count exactly 0 and never shift a neighbour's sum --
    ``reduceat`` cannot express an empty segment, and its clamped
    starts dropped the last shingle of a doc followed by empty ones.
    The prefix sum costs ~1.5x ``reduceat`` per bit pass (numpy
    microbench, 1M shingles in 10k docs, 4-vCPU VM: 0.52 vs 0.33 s).

    ``chunk_shingles`` bounds the kernel's per-pass working set
    (~10 B/shingle transient) and is exercised down to 1 by tests.

    Null semantics match the Column form: null text -> null signature;
    empty/short text (no shingles) -> 0.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    hashes = F.transform(
        word_shingles(F.col(text_col), n_shingles), lambda s: F.xxhash64(s)
    )
    slim = df.select(F.col(id_col), hashes.alias("__h"))
    out_schema = StructType([slim.schema.fields[0], StructField("simhash", LongType(), True)])

    def _sign(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            ids, lists = rb.column(0), rb.column(1)
            n = rb.num_rows
            # physical offsets index the UNSLICED child values buffer,
            # so this is correct even for sliced/offset arrays
            off = np.asarray(lists.offsets, dtype=np.int64)
            vals = np.asarray(lists.values, dtype=np.int64)
            out = np.zeros(n, dtype=np.int64)
            lo = 0
            while lo < n:
                # grow the doc window until ~chunk_shingles hashes
                hi = int(np.searchsorted(off, off[lo] + chunk_shingles, side="right"))
                hi = min(max(hi, lo + 1), n)
                seg = off[lo : hi + 1] - off[lo]
                v = vals[off[lo] : off[hi]]
                if len(v):
                    u = v.view(np.uint64)
                    cnt = seg[1:] - seg[:-1]
                    ones = np.empty((hi - lo, 64), dtype=np.int64)
                    c = np.zeros(len(v) + 1, dtype=np.int64)  # exclusive prefix sum
                    for b in range(64):
                        x = ((u >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                        np.cumsum(x, out=c[1:])
                        ones[:, b] = c[seg[1:]] - c[seg[:-1]]
                    # votes = 2*ones - cnt; bit set iff votes > 0
                    maj = (2 * ones > cnt[:, None]).astype(np.uint8)
                    out[lo:hi] = (
                        np.packbits(maj, axis=1, bitorder="little")
                        .view("<u8")
                        .ravel()
                        .view(np.int64)
                    )
                lo = hi
            if lists.null_count:
                sim = pa.array(out, type=pa.int64(), mask=~np.asarray(lists.is_valid()))
            else:
                sim = pa.array(out, type=pa.int64())
            yield pa.RecordBatch.from_arrays([ids, sim], schema=pa.schema(
                [rb.schema.field(0), pa.field("simhash", pa.int64())]
            ))

    return slim.mapInArrow(_sign, out_schema)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count(xor))."""
    return F.bit_count(a.bitwiseXOR(b))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hash_tables: int = 16,
    num_features: int = 1 << 18,
    shingle_n: int = 3,
    max_jaccard_distance: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-duplicate pair mining (the Broder scheme, as
    pyspark.ml implements it: MinHashLSH banding into hash tables,
    bucket join, then exact-ish distance filter).

    Returns (id_a, id_b, jaccard_distance) with id_a < id_b.  At scale
    the bucket join is the only shuffle; candidate pairs never leave the
    JVM.  Empty-shingle docs are dropped (MinHash undefined on empty
    sets).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    shingled = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True)
    feats = tf.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, max_jaccard_distance, distCol="jaccard_distance")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.col("jaccard_distance"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
    agg_partitions: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted index:
    explode shingles, group postings by shingle, expand ordered doc
    pairs map-side from each posting list, then count shared shingles
    per pair (|A union B| = |A| + |B| - |A intersect B|).

    One shingle evaluation and two shuffles total -- a self-join
    formulation re-evaluates the shingling per join side and shuffles
    three times (~4x slower measured at sf0.1).  Doc sizes travel inside
    the postings, so no extra joins.

    A hot shingle with document frequency f expands f*(f-1)/2 pairs; at
    100 TB set ``max_df`` to drop stop-shingles (df > max_df carries no
    near-dup signal -- standard prefix-filter practice; changes results
    only for pairs whose every shared shingle is hot).  Default None =
    exact.

    Candidate generation prunes EXACTLY, map-side, at zero added
    shuffles (r12): the size-ratio filter (a pair with
    min(n)/max(n) < t can never reach J >= t) drops hopeless pairs
    inside the posting-list expansion, and pair rows carry the single
    int na+nb instead of (na, nb) -- see the inline notes.  Full
    Chaudhuri/Xiao prefix filtering (order tokens rare-first, expand
    only each doc's (1-t)-prefix) was sized on the fixture corpus and
    REJECTED for this operator: at the registry's t=0.2 it cuts
    candidates only 1.48x while requiring a doc-frequency join, a
    per-doc ranking exchange, and -- fatally -- set-based
    verification, whose per-candidate shingle-array join shuffles far
    more bytes than the count-based aggregation it replaces whenever
    candidates are plentiful.  Prefix filtering pays at t >= 0.5 with
    sparse candidates; the count-based inverted index is the right
    100 TB shape at permissive thresholds.

    ``agg_partitions`` (VERDICT r5 #2) sizes the two aggregation
    exchanges for the corpus instead of inheriting
    ``spark.sql.shuffle.partitions``.  The memory hot spot is the PAIR
    aggregation: exact Jaccard must hold every candidate pair
    (~sum over shingles of C(df,2) entries, measured 113M at sf10 from
    84 MB of compressed documents) in aggregation hash state, ~50 B an
    entry (r12 slimmed the row to (id_a, id_b, s) and the state to
    count + one F.first) -- at 32 partitions that is ~220 MB per task against a
    ~600 MB execution share, which thrashes through sort-fallback
    (4+ GiB spilled at sf10).  Pick ``agg_partitions ~ candidate_pairs
    * 60 B / 64 MB`` (the sf10 math: 113M * 60 / 64 MiB = ~100;
    callers that only know input size should assume ~4x that
    measured expansion -- see queries/text_queries.py).  When set, the
    shingle postings AND the pair counts repartition explicitly by
    their grouping keys; the groupBys reuse that partitioning (no
    second exchange), trading the map-side combine -- worthless here,
    measured pair multiplicity is 1.12 -- for right-sized aggregation
    state.  Default None keeps the session-default plan (correct and
    spill-free through sf1).

    A caller-built shared shingle frame (one shingling for this and
    the banded MinHash) was measured at sf10 and rejected: SCALING.md
    "Shared shingle stream A/B".
    """
    shingled = df.select(
        F.col(id_col).alias("id"),
        word_shingles(text_col, shingle_n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    # the posting stream is keyed by the 16-byte BINARY md5 of the
    # shingle, not the shingle string itself (the substring family's
    # r8 lesson: the key is most of each posting row's width on the
    # engine-largest exchanges, and nothing downstream needs the
    # text).  md5's 128 bits make a collision -- which would merge two
    # shingles' posting lists into spurious candidate pairs --
    # practically impossible at any corpus size (~1e-15 at 10^12
    # distinct shingles); a 64-bit key would NOT be safe there
    # (~dozens of expected collisions), which is why xxhash64 is not
    # used despite being narrower.
    inv = shingled.select(
        "id",
        F.size("shingles").alias("n"),
        F.explode(
            F.transform("shingles", lambda s: F.unhex(F.md5(s)))
        ).alias("shingle"),
    )
    if agg_partitions is not None:
        inv = inv.repartition(agg_partitions, "shingle")
    grouped = (
        inv.groupBy("shingle")
        .agg(F.collect_list(F.struct("id", "n")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_df is not None:
        grouped = grouped.filter(F.size("docs") <= max_df)
    # Candidate generation carries two exact map-side prunes (r12, the
    # "cut the pair exchange before the agg" treatment):
    #
    # 1. SIZE-RATIO filter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) (best
    #    case |A intersect B| = min), so a pair whose length ratio is
    #    below the threshold can never survive the final filter --
    #    drop it before it ever becomes an exchange row.  The bound is
    #    evaluated with the SAME f64 division the final filter uses
    #    (never t*n multiplication, whose upward rounding could drop a
    #    boundary pair: 0.2*100 = 20.000000000000004 > 20); f64
    #    division is weakly monotone, so size-dropped implies
    #    final-dropped -- results are bit-identical by construction.
    #
    # 2. SLIM pair rows: the pair needs only na+nb downstream
    #    (jaccard = c/(s-c)), so emit one int `s` instead of (na, nb)
    #    -- UnsafeRow 8-byte field slots make that 40 -> 32 B on the
    #    operator's dominant exchange, and one less F.first in the
    #    aggregation hash state.  Integer s = na+nb map-side is the
    #    same int the old filter computed, so the division is
    #    bit-identical.
    ratio = lambda x, y: (  # noqa: E731
        F.least(x["n"], y["n"]).cast("double") / F.greatest(x["n"], y["n"])
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "docs",
                    lambda x: F.transform(
                        F.filter(
                            "docs",
                            lambda y: (y["id"] > x["id"])
                            & (ratio(x, y) >= F.lit(min_jaccard)),
                        ),
                        lambda y: F.struct(
                            x["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            (x["n"] + y["n"]).alias("s"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*")
    if agg_partitions is not None:
        pairs = pairs.repartition(agg_partitions, "id_a", "id_b")
    common = pairs.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_common"), F.first("s").alias("s")
    )
    return (
        common.select(
            "id_a",
            "id_b",
            (F.col("n_common") / (F.col("s") - F.col("n_common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _banded_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    num_bands: int,
    shingle_n: int,
    persist_signed: bool = True,
    slim: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared front half of banded MinHash: returns (base, signed,
    banded) where base is the LAZY (id, __sh shingle-set) frame,
    signed is the persisted (id, sig) signature table, and banded has
    one SLIM (id, band, bucket) posting per doc per band -- the
    signature does NOT ride the bucket exchange (pre-r9 it did, 8
    copies of every 256 B signature: 805 MiB of bucket shuffle at sf10
    vs ~100 MiB slim; consumers join ``signed`` back per unique
    candidate pair instead, which also computes each pair's
    est_jaccard once rather than once per colliding band).

    ``persist_signed=False`` skips the signature persist
    for callers that consume only ``banded`` (bucket_stats) -- the
    cache write would be pure cost there (r9 ADVICE).

    ``slim=False`` (r10, the small-corpus shape) keeps the signature
    ON the posting -- banded rows are (id, sig, band, bucket) -- so
    consumers can compute est_jaccard inside the bucket expansion with
    no join back to ``signed``: on a tiny corpus the 8x-replicated
    signatures are a tiny exchange and the two saved shuffle_hash
    joins dominate (the r9 sf0.1 regression).  The slim default is the
    scale shape (805 -> ~100 MiB of bucket shuffle at sf10)."""
    import random

    rng = random.Random(42)
    a_consts = [rng.randrange(1, 1 << 31) | 1 for _ in range(num_hashes)]
    b_consts = [rng.randrange(0, 1 << 31) for _ in range(num_hashes)]
    # universal-hash modulus: the smallest prime > 2^32.  WITHOUT the
    # mod, min(h*a_i + b_i) is attained at the minimal h for every i
    # (the affine maps are monotone), which silently collapses the k
    # "independent" minhashes into one -- est_jaccard degenerates to
    # {0,1} and a doc whose extra shingle hashes below the shared min
    # never collides with its near-dups.  h < 2^32 and a_i < 2^31 keep
    # h*a_i + b_i < 2^63 (no ANSI overflow before the pmod).
    prime_mod = (1 << 32) + 15

    from pyspark import StorageLevel

    # NOT persisted (r9): the shingle-set cache write was the
    # operator's single most expensive stage at sf10 (~270 executor-s
    # building a columnar cache of ~25M strings, zero shuffle), and
    # the verification join only ever needs the CANDIDATE docs'
    # shingles -- minhash_banded_pairs now semi-join-prunes the corpus
    # to candidate ids and re-shingles just those (~candidates, not
    # rows).  The signature chain streams through this frame once.
    base = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("__sh")
    ).filter(F.size("__sh") > 0)
    hashed = base.select("id", F.explode("__sh").alias("__s")).select(
        "id", F.xxhash64("__s").bitwiseAND(F.lit(0xFFFFFFFF).cast("long")).alias("__h")
    )
    affine = hashed.select(
        "id",
        *[
            F.pmod(
                F.col("__h") * F.lit(a_consts[i]).cast("long") + F.lit(b_consts[i]).cast("long"),
                F.lit(prime_mod).cast("long"),
            ).alias(f"__v{i}")
            for i in range(num_hashes)
        ],
    )
    r = num_hashes // num_bands
    signed = affine.groupBy("id").agg(
        *[F.min(f"__v{i}").alias(f"__m{i}") for i in range(num_hashes)]
    ).select("id", F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig"))
    if persist_signed:
        # consumed by the bucket stream AND both sides of the
        # est-jaccard join; persist once instead of re-running the
        # explode + k-way min aggregation per consumer (~140 MB at
        # sf10 -- signature-table-sized, linear in docs)
        signed = signed.persist(StorageLevel.MEMORY_AND_DISK)
    band_structs = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bands - 1)),
            lambda b: F.struct(
                b.alias("band"), F.xxhash64(F.slice("sig", b * r + 1, r)).alias("bucket")
            ),
        )
    ).alias("bb")
    if slim:
        # one SLIM row per (doc, band): bucket key = hash of the band's
        # slice; the signature itself stays in `signed`
        banded = signed.select("id", band_structs).select(
            "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    else:
        # small-corpus shape: the signature rides the posting
        banded = signed.select("id", "sig", band_structs).select(
            "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    return base, signed, banded


def minhash_banded_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Monitoring companion to ``minhash_banded_pairs``: one row of
    bucket-population stats under the same parameters --
    (n_buckets, n_candidate_buckets, n_skipped_buckets,
    n_skipped_postings, max_bucket).  Run it (or log it from a
    pipeline) to see how much the ``max_bucket_size`` cap is dropping;
    a nonzero skipped count on a real corpus means boilerplate-heavy
    data that should be fingerprint-deduped first."""
    # persist_signed=False: this path consumes only the slim postings,
    # so the signature cache write would be paid and never read
    _, _, banded = _banded_postings(
        df, id_col, text_col, num_hashes, num_bands, shingle_n, persist_signed=False
    )
    cap = F.lit(max_bucket_size if max_bucket_size is not None else (1 << 62))
    sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when((F.col("n") > 1) & (F.col("n") <= cap), 1).otherwise(0)).alias(
            "n_candidate_buckets"
        ),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("n_skipped_buckets"),
        F.sum(F.when(F.col("n") > cap, F.col("n")).otherwise(0)).alias("n_skipped_postings"),
        F.max("n").alias("max_bucket"),
    )


#: broadcast envelope of ``minhash_banded_pairs``' candidate-id spine
#: (slim path): the MEASURED count of distinct candidate doc ids (a
#: count over the checkpointed pair blocks) at or below 4M ids (~32 MB
#: hashed-relation) broadcasts into the signature semi-filter; above
#: it the semi-filter shuffles.
_BROADCAST_MAX_IDS = 4_000_000


def minhash_banded_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    min_jaccard: float = 0.3,
    max_bucket_size: int | None = 256,
    slim_postings: bool = True,
) -> DataFrame:
    """Hand-rolled MinHash + LSH banding (Broder): shingle -> k minhash
    values -> b bands of r = k/b rows -> bucket on (band, band-hash) ->
    map-side candidate-pair expansion -> exact-Jaccard verification of
    candidates (array_intersect/array_union on the shingle sets, same
    recheck approxSimilarityJoin does with its distance filter).

    Returns (id_a, id_b, est_jaccard, jaccard) with id_a < id_b;
    est_jaccard is the fraction of agreeing minhashes (unbiased
    estimator, stderr ~ 1/sqrt(k)) and jaccard is exact; rows satisfy
    ``jaccard >= min_jaccard``.  A loose prefilter at
    ``min_jaccard - 3*stderr`` prunes hopeless candidates before the
    verification join.

    Scale shape: everything is JVM-side expressions; ONE shuffle
    (groupBy bucket) before the pair aggregation, signatures travel with
    the postings so no join back to the corpus.  A pair colliding in p
    bands is emitted p times -- the final groupBy dedupes.  Versus
    pyspark.ml's MinHashLSH+approxSimilarityJoin this skips the
    VectorUDT conversion and the exact-distance re-join (~3x measured
    at sf0.1).

    Probability a pair with true Jaccard s becomes a candidate:
    1 - (1 - s^r)^b (r=4, b=8: s=0.5 -> 0.40, s=0.8 -> 0.98).

    ``max_bucket_size`` bounds the per-task blowup: a (band, bucket)
    that collects f postings expands f*(f-1)/2 pairs in ONE task, so a
    degenerate bucket (boilerplate corpus, a hot template) can OOM an
    executor.  Buckets over the cap are dropped, mirroring
    ``ngram_jaccard_pairs``'s ``max_df`` hot-shingle guard: a pair of
    genuinely similar docs still collides in the other b-1 bands, so
    only docs whose EVERY band lands in an over-cap bucket lose recall
    (i.e. clusters of > max_bucket_size mutual near-dups -- for those,
    exact/fingerprint dedup is the right tool anyway).  Pass ``None``
    to disable.  ``minhash_banded_bucket_stats`` reports sizes and how
    many buckets/postings the cap skipped.

    The signature step deliberately avoids higher-order functions:
    shingle hashes explode to rows and the k affine minhashes
    (h*a_i + b_i over a 32-bit hash domain -- products stay in long
    range under ANSI mode) become k plain aggregate columns, so the
    whole hot loop runs in whole-stage codegen (11x faster than the
    nested-transform formulation at sf0.1).

    ``slim_postings`` (r10) picks the bucket-exchange shape.  True
    (the scale default): slim (id, band, bucket) postings, candidate
    pairs dedup to one row BEFORE any signature work, and est_jaccard
    comes from two shuffle_hash joins against the signature table
    SEMI-FILTERED to candidate docs (r12; AQE broadcasts the candidate
    id spine, so the rejoin exchanges scale with candidates, not
    corpus x sig bytes) -- at sf10 the slim shape cut the bucket
    shuffle 805 -> ~100 MiB.  The 5.1x-for-3x shuffle growth sf30
    flagged (SCALING_CURVE.md r11) turned out to be the lazy-persist
    build race re-executing the bucket pipeline and verify prune, not
    signature bytes -- fixed by the eager checkpoints below; the
    semi-filter stays because the unfiltered rejoin's corpus-sized
    exchanges are exactly what a 1,000x corpus cannot afford.
    Exact verification on the slim shape (r9) semi-join-prunes the
    corpus to the candidate id spine and re-shingles just those docs
    -- candidate-sized work, no corpus-wide shingle cache (at sf10 the
    cache build was the operator's costliest stage, ~270 executor-s).
    ``slim_postings=False`` (small corpora): the signature rides the
    posting, est_jaccard is computed inside the bucket expansion with
    NO joins back, and verification joins one persisted corpus shingle
    frame -- on a tiny corpus the replicated signatures are a trivial
    exchange, the two saved joins win (r9's ungated slim shape was
    1.54x the r8 record at sf0.1), and the prune chain's ~8 extra
    small stages cost more than a tiny cache (measured: sf0.1 3.0 vs
    4.8 s, sf1 5.3 vs 7.3 s, crossover between sf1 and sf10).  Values
    are identical either way (est_jaccard is a pure function of the
    two signatures; the post-expansion groupBy dedupes the
    per-collision copies).  Registry callers gate it on the same
    corpus-byte sizing as ``agg_partitions`` elsewhere -- the
    ``distinct_parts_per_flag`` None-means-stock pattern.

    A caller-built shared shingle frame (one shingling for this and
    ``ngram_jaccard_pairs``) was measured at sf10 and rejected:
    SCALING.md "Shared shingle stream A/B".

    ``_BROADCAST_MAX_IDS`` (r12, slim path only) is the envelope for
    the MEASURED broadcast of the candidate-id spine into the
    signature semi-filter.  See the inline note for why AQE cannot
    make this call on its own.
    """
    if not slim_postings:
        return _minhash_banded_pairs_small(
            df, id_col, text_col, num_hashes, num_bands, shingle_n,
            min_jaccard, max_bucket_size,
        )
    _, signed, banded = _banded_postings(
        df, id_col, text_col, num_hashes, num_bands, shingle_n
    )

    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("docs") <= max_bucket_size)
    # ordered candidate ids only -- a pair colliding in p bands is
    # emitted p times and deduped here, BEFORE any signature work, so
    # est_jaccard is computed once per unique pair (pre-r9 it was
    # computed per collision inside the bucket explode, and the full
    # signature rode every bucket posting)
    from pyspark import StorageLevel

    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "docs",
                        lambda x: F.transform(
                            F.filter("docs", lambda y: y > x),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.*").distinct()
        # candidate-pair-sized (bounded by banding + bucket cap);
        # consumed twice below -- the signature semi-filter spine and
        # the est_jaccard join chain.  EAGER localCheckpoint, not lazy
        # persist (r12): independent consumer branches of a lazily
        # persisted frame can be SCHEDULED CONCURRENTLY with the cache
        # still empty, and each then re-executes the whole bucket
        # pipeline -- the sf30 stage ledger showed the 348 MB bucket
        # exchange written twice (697 MB of the operator's 1.57 GB
        # shuffle, the superlinear term in SCALING_CURVE.md r11).  The
        # checkpoint runs the pipeline exactly once at build time and
        # every consumer reads blocks.
        .localCheckpoint(eager=True)
    )
    stderr = 1.0 / (num_hashes ** 0.5)
    # Semi-filter the signature table down to CANDIDATE docs before the
    # rejoin (r12).  Without it the two est_jaccard joins each shuffle
    # the FULL corpus-sized signature table -- bytes that scale with
    # corpus rather than candidates, the exchange a 1,000x corpus
    # cannot afford.  The spine is one id per candidate doc (a SUBSET
    # of the corpus id space, typically tiny after banding); AQE
    # broadcasts it when small so the persisted signature scan filters
    # map-side with ZERO added shuffle, and degrades to a shuffled semi
    # join (one corpus-sig exchange instead of two) on a degenerate
    # corpus where the candidate set is itself corpus-scale.
    # MEASURED broadcast decision (the _BROADCAST_MAX_FPS contract from
    # streaming dedup): AQE cannot save the signed exchange here -- it
    # materializes BOTH semi-join child exchanges before it learns the
    # spine is ~1 MB, so the corpus-sized signature exchange is already
    # written by the time the broadcast conversion could fire (measured
    # at sf30: 347.6 MB signed exchange with a 0.9 MB spine on disk).
    # `pairs` is already checkpointed, so the count is a free
    # block-read; below the envelope the spine broadcasts explicitly
    # and the signature scan filters in place with zero exchange, above
    # it (degenerate corpus: candidate set itself corpus-scale) the
    # shuffled semi is the correct fallback.
    pair_ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # count the SPINE itself, not a pair-count proxy: candidate pairs
    # number in the millions while their distinct doc ids are bounded
    # by the corpus and typically ~100x fewer (sf30: ~10M pairs,
    # ~150k ids) -- a proxy would refuse an easily broadcastable spine.
    # The count's job is candidate-scale (reads the pair checkpoint
    # blocks) and doubles as the cache fill the broadcast build reads.
    if pair_ids.count() <= _BROADCAST_MAX_IDS:
        pair_ids = F.broadcast(pair_ids)
    sig_cand = signed.join(pair_ids, "id", "leftsemi")
    sig_a = sig_cand.select(F.col("id").alias("id_a"), F.col("sig").alias("__sig_a"))
    sig_b = sig_cand.select(F.col("id").alias("id_b"), F.col("sig").alias("__sig_b"))
    est = (
        F.aggregate(
            F.zip_with(
                F.col("__sig_a"),
                F.col("__sig_b"),
                lambda a, b: F.when(a == b, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / num_hashes
    )
    # shuffle_hash on the candidate side: every side of this chain is
    # candidate-sized after the semi-filter and never needs sorting
    # for a 1:1 probe
    cand = (
        pairs.hint("shuffle_hash")
        .join(sig_a, "id_a")
        .hint("shuffle_hash")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= max(0.0, min_jaccard - 3 * stderr))
        # consumed 3x below (the id-spine for pruning + the final
        # join); candidate-pair-sized, bounded by the banding + the
        # est prefilter
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # exact verification touches only CANDIDATE docs:
    # semi-join-prune the corpus to the candidate id spine and
    # shingle just those (candidate-sized, not corpus-sized -- the
    # r9 change that removed the corpus-wide shingle-set cache).
    # The spine is `pair_ids` -- the PRE-est-filter candidate ids,
    # a harmless superset of the post-filter ids (extra sh rows
    # never join back: the final joins are inner on cand) -- because
    # it is already materialized AND carries the measured broadcast
    # decision.  Deriving the exact post-filter spine here would
    # re-run a distinct AND hand AQE another corpus-side semi whose
    # text exchange it materializes before it can broadcast
    # (measured at sf30: a 347.6 MB corpus text exchange against a
    # 1 MB spine).
    # EAGER checkpoint for the same reason as `pairs`: the two
    # verify legs (sh_a / sh_b) are independent branches, and a
    # lazy persist let both re-run the corpus semi-prune +
    # re-shingle (sf30 ledger: two ~122 MB shingle exchanges
    # from two full corpus scans).  The checkpoint job also
    # materializes `cand`'s cache en route, so the final probe
    # never races it either.
    sh = (
        df.join(pair_ids, F.col(id_col) == pair_ids["id"], "leftsemi")
        .select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, shingle_n).alias("__sh"),
        )
        .localCheckpoint(eager=True)
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    return (
        cand.hint("shuffle_hash")
        .join(sh_a, "id_a")
        .hint("shuffle_hash")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", "est_jaccard", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def _minhash_banded_pairs_small(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    num_bands: int,
    shingle_n: int,
    min_jaccard: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """The ``slim_postings=False`` body (the r8 shape, kept verbatim as
    the small-corpus branch): signatures ride the bucket postings,
    est_jaccard is computed inside the bucket pair expansion, the
    post-expansion groupBy dedupes multi-band collisions, and exact
    verification joins the corpus-wide persisted shingle frame.  Zero
    joins back to a signature table -- the winning trade exactly while
    the 8x signature replication is a trivial exchange."""
    from pyspark import StorageLevel

    base, _, banded = _banded_postings(
        df, id_col, text_col, num_hashes, num_bands, shingle_n,
        persist_signed=False, slim=False,
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id", "sig")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("docs") <= max_bucket_size)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "docs",
                    lambda x: F.transform(
                        F.filter("docs", lambda y: y["id"] > x["id"]),
                        lambda y: F.struct(
                            x["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            (
                                F.aggregate(
                                    F.zip_with(
                                        x["sig"],
                                        y["sig"],
                                        lambda a, b: F.when(a == b, 1).otherwise(0),
                                    ),
                                    F.lit(0),
                                    lambda acc, v: acc + v,
                                ).cast("double")
                                / num_hashes
                            ).alias("est_jaccard"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.*")
    stderr = 1.0 / (num_hashes ** 0.5)
    cand = (
        pairs.groupBy("id_a", "id_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= max(0.0, min_jaccard - 3 * stderr))
    )
    sh = base.persist(StorageLevel.MEMORY_AND_DISK)
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - inter
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", "est_jaccard", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.95,
    num_hash_tables: int = 4,
    bucket_length: float = 2.0,
) -> DataFrame:
    """Embedding-cosine near-dup mining via random-projection LSH on
    L2-normalized vectors (cosine sim = 1 - ||a_hat - b_hat||^2 / 2, so a
    euclidean LSH join on normalized vectors bounds cosine).  Returns
    (id_a, id_b, cosine)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    import math

    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    normed = df.select(
        F.col(id_col).alias("id"),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
        ).alias("nvec"),
    ).filter(norm > 0)
    max_euclid = math.sqrt(2.0 * (1.0 - min_cosine))
    lsh = BucketedRandomProjectionLSH(
        inputCol="nvec", outputCol="hashes", numHashTables=num_hash_tables,
        bucketLength=bucket_length, seed=42,
    )
    model = lsh.fit(normed)
    pairs = model.approxSimilarityJoin(normed, normed, max_euclid, distCol="euclid")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            (1 - F.col("euclid") * F.col("euclid") / 2).alias("cosine"),
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 25,
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, component)
    where component = min id reachable from the node.  This is the last
    step of large-scale dedup -- pair mining (MinHash/SimHash/Jaccard)
    emits edges, components group mutually-similar docs, and one
    survivor per component is kept.

    Algorithm: min-label propagation WITH pointer jumping -- every node
    starts labeled with itself; each round (a) joins labels across
    edges and takes the min of the neighborhood, then (b) compresses
    one pointer hop (label := label of label), which halves remaining
    chain lengths.  (b) is what makes convergence O(log diameter)
    instead of O(diameter): a pathological 10k-node chain corpus
    finishes in ~15 rounds, not 10k (long-chain test).  Each round is
    two joins + one groupBy on the EDGE/LABEL lists only, never the
    corpus; the changed-count per round is a LIMIT-1 probe -- the
    driver only steers, data never collects.

    Raises loudly if labels have not converged after ``max_iterations``
    rounds; with pointer jumping that means a component of diameter
    > ~2^max_iterations, i.e. a data or mining bug, not a tuning knob.
    Pass ``stats_out={}`` to receive ``{"rounds": N, "converged":
    True}`` for pipeline monitoring (the minhash_banded_bucket_stats
    pattern: surface the health number as data).

    Checkpoint-block hygiene (ADVICE r5): each round's
    ``localCheckpoint(eager=True)`` persists an RDD-level block that
    ``Dataset.unpersist`` CANNOT release (unpersist only talks to the
    SQL CacheManager; a localCheckpoint's persistence lives on the
    underlying RDD -- empirically, after ``df.localCheckpoint();
    df.unpersist(True)`` the RDD is still in the persistent-RDD map).
    So the loop reads each round's checkpoint RDD id straight off the
    dataset (the analyzed plan is a ``LogicalRDD`` whose rdd IS the
    persisted one -- no misattribution if another thread persists
    something concurrently) and unpersists the PREVIOUS round's id
    through the JavaRDD handle once the convergence probe (its last
    reader) has run -- long-running sessions hold exactly one round's
    block, not one per round.  The
    FINAL round's block backs the returned DataFrame and intentionally
    stays; its ids are surfaced as ``stats_out["checkpoint_rdd_ids"]``
    so callers that outlive the result can release it the same way
    (or all at once with ``session.release_pinned``).
    """
    sc = pairs.sparkSession.sparkContext

    def _release_rdd_ids(ids: set) -> None:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)

    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    # self-loop keeps isolated representation: every node appears as src
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    )
    prev_ids: set = set()
    for rnd in range(1, max_iterations + 1):
        # (a) propagate: each node takes min(own, neighbors') component
        neighbor = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "comp")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # (b) pointer jumping: comp := comp's own comp (grandparent).
        # Every comp value is a node id (labels are closed over node
        # ids), so the self-join is total; the grandparent is <= comp
        # by construction, least() just documents that.
        parent = new_labels.select(
            F.col("id").alias("comp"), F.col("comp").alias("__gp")
        )
        new_labels = (
            new_labels.join(parent, "comp")
            .select("id", F.least("comp", "__gp").alias("comp"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage per round
        new_ids = {new_labels._jdf.queryExecution().analyzed().rdd().id()}
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .filter(F.col("o.comp") != F.col("n.comp"))
            .limit(1)
            .count()
        )
        # the convergence check above was the last reader of the PREVIOUS
        # round's checkpoint blocks: release them now (at the RDD level,
        # where a localCheckpoint's persistence actually lives) instead
        # of waiting for GC + ContextCleaner -- they are N-row, one per
        # round, and Dataset.unpersist would be a silent no-op here
        if prev_ids:
            _release_rdd_ids(prev_ids)
        prev_ids = new_ids
        labels = new_labels
        if changed == 0:
            if stats_out is not None:
                stats_out.update(
                    {
                        "rounds": rnd,
                        "converged": True,
                        "checkpoint_rdd_ids": sorted(prev_ids),
                    }
                )
            return labels
    # non-convergence: the caller gets an exception, not the labels, so
    # the last round's blocks have no reader left -- release them too
    _release_rdd_ids(prev_ids)
    if stats_out is not None:
        stats_out.update({"rounds": max_iterations, "converged": False})
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds: "
        "a component has diameter > ~2^rounds -- inspect the pair-mining "
        "stage (hot bucket? degenerate threshold?) before raising "
        "max_iterations"
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Keep ONE survivor per near-dup component (the min id) plus all
    docs that appear in no pair.  The standard tail of a MinHash dedup
    pipeline: pairs -> components -> anti-join the losers."""
    comps = connected_components(pairs, a_col, b_col)
    losers = comps.filter(F.col("id") != F.col("comp")).select(F.col("id").alias("__loser"))
    return df.join(
        losers, df[id_col] == F.col("__loser"), "left_anti"
    )


# -- incremental (cross-shard) dedup ----------------------------------------


def incremental_dedup_status(
    shard: DataFrame,
    base_fingerprints: DataFrame,
    text_col: str,
    id_col: str,
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Annotate an INCOMING shard against an already-curated corpus
    without re-processing the corpus -- the steady-state shape of a
    crawl pipeline (the curated corpus only ever ships its fingerprint
    column, never its text).

    Returns the shard with ``fp_col`` plus ``status``:

    - ``'dup_of_base'``  -- fingerprint already in the curated corpus
      (every shard copy gets this status)
    - ``'dup_in_shard'`` -- new fingerprint, but a smaller ``id_col``
      row in the same shard wins
    - ``'kept'``         -- the shard's deterministic survivor

    ``base_fingerprints`` must be a 1-column DataFrame of fingerprints
    (pre-distinct; typically read straight from the corpus manifest).

    Scale shape: ONE shuffle chain on the fingerprint -- the left join
    against the base set hash-partitions both sides on ``fp_col``, and
    the keep-min window reuses that partitioning (no second exchange
    for the shard).  The base side moves only its fingerprint column.
    """
    from pyspark.sql import Window as W

    fp_name = base_fingerprints.columns[0]
    base = base_fingerprints.select(
        F.col(fp_name).alias(fp_col), F.lit(True).alias("__in_base")
    )
    ann = shard.withColumn(fp_col, fingerprint(text_col)).join(base, fp_col, "left")
    w = W.partitionBy(fp_col).orderBy(F.asc(id_col))
    return (
        ann.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "status",
            F.when(F.col("__in_base"), F.lit("dup_of_base"))
            .when(F.col("__rn") > 1, F.lit("dup_in_shard"))
            .otherwise(F.lit("kept")),
        )
        .drop("__in_base", "__rn")
    )


def incremental_dedup(
    shard: DataFrame,
    base_fingerprints: DataFrame,
    text_col: str,
    id_col: str,
    fp_col: str = "fingerprint",
) -> DataFrame:
    """The survivors of :func:`incremental_dedup_status` (``'kept'``
    rows only): shard docs that are new vs the curated corpus AND
    unique within the shard, with their fingerprint attached (append
    them to the corpus manifest to make the next increment's base)."""
    return (
        incremental_dedup_status(shard, base_fingerprints, text_col, id_col, fp_col)
        .filter(F.col("status") == "kept")
        .drop("status")
    )
