"""Structured Streaming queries run to completion over the bounded
events fixture (availableNow trigger + memory sink), so the driver can
treat them like batch queries.

streaming_hourly_counts and streaming_sliding_counts ARE
oracle-checked: a windowed streaming aggregation over a bounded source,
run to completion in complete mode, must equal the equivalent batch
GROUP BY -- that's the batch-parity contract of Structured Streaming.
Watermark/late-data *dropping* behavior can't be expressed in a batch
oracle and is unit-tested in tests/test_streaming.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.windows import (
    read_events_stream,
    run_to_completion,
    session_windows,
    sliding_counts,
    streaming_shuffle_partitions,
    tumbling_counts,
)
from ._exact import dsum, sql_dsum
from .registry import register


def _events_state_partitions(spark: SparkSession, sf_dir: str) -> int | None:
    """Byte-gated state partitioning for the events-stream queries
    (streaming_shuffle_partitions over the events table's on-disk
    bytes).  Answer-invariant -- state partitioning never changes what
    a stateful operator computes (pinned by every streaming_* oracle);
    it sizes the per-partition state stores whose fixed per-batch cost
    dominated the sf0.1 bench rows (see streaming/windows.py)."""
    import os

    from ..sources.readers import table_nbytes

    return streaming_shuffle_partitions(
        spark, table_nbytes(os.path.join(sf_dir, "events.parquet"))
    )


@register(
    "streaming_hourly_counts",
    oracle=f"""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming",),
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        tumbling_counts(stream, "1 hour"),
        output_mode="complete",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("hour_start", "event_type")


@register(
    "streaming_sliding_counts",
    oracle=f"""
    WITH contrib AS (
      SELECT DATE_TRUNC('hour', ts) AS win_start, event_type, value FROM events
      UNION ALL
      SELECT DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type, value FROM events
    )
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value')} AS sum_value
    FROM contrib
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming",),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding hourly: each event contributes to exactly
    two windows (the oracle materializes both contributions with a
    UNION ALL)."""
    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        sliding_counts(stream, "2 hours", "1 hour"),
        output_mode="complete",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("win_start", "event_type")


@register(
    "streaming_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(COALESCE(value, 0)), 6) AS sum_value,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) run to
    completion.  The bounded fixture is one file -> one micro-batch ->
    the single 'update' row per user IS the final state, which must
    equal the batch GROUP BY (the oracle).  Float sums rounded to 6 dp
    (pandas pairwise summation vs sequential oracle ULPs)."""
    from ..streaming.windows import stateful_user_stats

    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        stateful_user_stats(stream),
        output_mode="update",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select(
        "user_id",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    ).orderBy("user_id")


@register(
    "streaming_interval_join",
    oracle="""
    SELECT p.event_id AS p_event_id,
           p.user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
           c.value AS c_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY p_event_id, c_ts
    """,
    tags=("streaming", "join"),
)
def streaming_interval_join(
    spark: SparkSession, sf_dir: str, progress_out: list | None = None
) -> DataFrame:
    """Stream-stream interval join run to completion over the bounded
    source must equal the batch time-range join (the oracle).
    ``progress_out`` (keyword-only in spirit; the driver calls
    ``fn(spark, sf_dir)``) collects per-batch StreamingQueryProgress
    dicts for tools/streaming_batches.py."""
    from ..streaming.windows import stream_stream_interval_join

    stream = read_events_stream(spark, sf_dir)
    # INNER join in append mode emits every matched pair eagerly in the
    # data batch both sides arrive in; the trailing no-data batch only
    # evicts state the bounded run is about to discard -- skipping it
    # is answer-invariant HERE (it is NOT for the outer variants, whose
    # null-emissions require the finalization batch; they keep it).
    # Measured r12 at sf0.1: 8.9 -> 2.0 s with the byte-gated state
    # partitioning, rows identical (oracle green).
    result = run_to_completion(
        stream_stream_interval_join(stream),
        output_mode="append",
        progress_out=progress_out,
        state_partitions=_events_state_partitions(spark, sf_dir),
        skip_no_data_batch=True,
    )
    return result.select(
        "p_event_id",
        F.col("p_user_id").alias("user_id"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts"),
        "c_value",
    ).orderBy("p_event_id", "c_ts")


@register(
    "streaming_dedup_user_types",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates run to completion: the surviving key set
    over a bounded source must equal batch DISTINCT (which row survives
    per key is arbitrary, so only the keys are projected)."""
    from ..streaming.windows import streaming_dedup

    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        streaming_dedup(stream, ["user_id", "event_type"]),
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select("user_id", "event_type").orderBy("user_id", "event_type")


@register(
    "streaming_session_windows",
    # Batch replay of Spark's session_window merge rule: an event joins
    # the open session iff its ts is STRICTLY inside [start, last+gap)
    # (half-open window), i.e. new-session when ts - lag(ts) >= gap;
    # session end = last event + gap.  The bounded fixture runs as ONE
    # micro-batch in complete mode, so the watermark never drops rows
    # mid-run and the streaming result must equal this batch
    # sessionization exactly.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("streaming",),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user, run to completion.
    Oracle: the batch lag+cumsum sessionization (islands of events with
    consecutive gaps < 30 min; session end = last event + gap), which
    Spark's session_window must match over a bounded single-batch
    source."""
    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        session_windows(stream, "30 minutes"),
        output_mode="complete",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select(
        "user_id",
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


@register(
    "streaming_segment_revenue",
    oracle=f"""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "join"),
)
def streaming_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joins the
    static customer dim per microbatch, then a streaming aggregate
    rolls up (segment, type).  Oracle = the identical batch join+agg,
    proving the incremental computation converges to the batch answer."""
    from ..streaming.windows import stream_static_enrich

    stream = read_events_stream(spark, sf_dir)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(stream, dim, on=["user_id"], how="inner")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )
    result = run_to_completion(
        agg,
        output_mode="complete",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.orderBy("c_mktsegment", "event_type")


@register(
    "streaming_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 3.5+ dropDuplicatesWithinWatermark run to completion.
    Over the bounded single-batch source the watermark never advances
    mid-batch, so no state expires and the surviving key set equals
    batch DISTINCT -- which pins the API deterministically; the
    retry-horizon state-expiry semantics (the reason this API exists)
    are documented in streaming/windows.py."""
    from ..streaming.windows import streaming_dedup_within_watermark as op

    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        op(stream, ["user_id", "event_type"]),
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    return result.select("user_id", "event_type").orderBy("user_id", "event_type")


# Shared by the default-provider and RocksDB-provider registrations:
# state-store provider choice must not change the answer.
_INTERVAL_JOIN_OUTER_ORACLE = """
    WITH cut AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'click')
             ) - INTERVAL '3 hours 1 minute' AS c
    )
    SELECT p.event_id AS p_event_id,
           p.user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
           c.value AS c_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase'
          AND ts < (SELECT c FROM cut)) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY p_event_id, c_ts
    """


@register(
    "streaming_interval_join_outer",
    # Restrict to purchases the watermark has provably FINALIZED: an
    # outer stream join only emits an unmatched row once the watermark
    # proves no match can still arrive, so purchases inside the final
    # window end the bounded run with their state legitimately still
    # open -- comparing them would test stream-termination accidentals,
    # not join semantics.  The finalized region is anchored to
    # LEAST(max purchase ts, max click ts), NOT the global MAX(ts):
    # Spark's global watermark (multipleWatermarkPolicy=min) derives
    # from the two JOINED streams' own max event times, and other event
    # types (views/errors) can run hours past the last click -- at
    # sf0.001 max(click ts) trails max(all ts) by ~4 h, which made the
    # old MAX(ts)-based cutoff include one purchase whose state was
    # still legitimately open (spark=199 vs duck=200).
    oracle=_INTERVAL_JOIN_OUTER_ORACLE,
    tags=("streaming", "join"),
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join run to completion: an
    unmatched purchase emits its NULL click columns once the watermark
    proves no matching click can still arrive -- the
    null-emission-on-state-expiry semantics the inner variant can't
    show.  Checked on the watermark-finalized region (see oracle
    comment), where the result must equal the batch LEFT JOIN."""
    from ..sources.readers import read_events
    from ..streaming.windows import stream_stream_interval_join_outer

    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        stream_stream_interval_join_outer(stream),
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    events = read_events(spark, sf_dir)
    cutoff = events.filter(F.col("event_type").isin("purchase", "click")).groupBy().agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            )
            - F.expr("INTERVAL '3 hours 1 minute'")
        ).alias("cut")
    )
    return (
        result.join(F.broadcast(cutoff))
        .filter(F.col("p_ts") < F.col("cut"))
        .select(
            "p_event_id",
            F.col("p_user_id").alias("user_id"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts"),
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts"),
            "c_value",
        )
        .orderBy("p_event_id", "c_ts")
    )


@register(
    "streaming_interval_join_outer_rocksdb",
    # Identical semantics, production state backend: the join's state
    # lives in per-partition RocksDB instances on executor local disk
    # (with changelog checkpointing) instead of the default provider's
    # executor-heap map.  Hash-matching the SAME oracle as the default
    # run proves the provider swap is answer-invariant -- the property
    # that lets a 100 TB deployment hold stream-join state on disk.
    oracle=_INTERVAL_JOIN_OUTER_ORACLE,
    tags=("streaming", "join", "rocksdb"),
)
def streaming_interval_join_outer_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEFT OUTER interval join under the RocksDB state-store
    provider (spark.sql.streaming.stateStore.providerClass +
    changelog checkpointing), run to completion; must be value-identical
    to ``streaming_interval_join_outer``."""
    from ..session import conf_scope
    from ..streaming.windows import ROCKSDB_STATE_CONFS

    with conf_scope(spark, ROCKSDB_STATE_CONFS):
        return streaming_interval_join_outer(spark, sf_dir)


@register(
    "streaming_interval_join_full",
    # Symmetric finalized-region check (same technique as the LEFT
    # OUTER variant): BOTH sides' null-emissions require their state to
    # have provably expired.  With two watermarked inputs Spark's
    # global watermark is the MIN of the per-side watermarks
    # (multipleWatermarkPolicy=min), and each side's watermark derives
    # from ITS OWN max event time -- so the finalized region is bounded
    # by the SMALLER side's max (purchases are rarer than clicks),
    # minus watermark + lookback + margin.
    oracle="""
    WITH cut AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'click')
             ) - INTERVAL '3 hours 1 minute' AS c
    )
    SELECT p.event_id AS p_event_id,
           COALESCE(p.user_id, c2.user_id) AS user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
           c2.event_id AS c_event_id,
           STRFTIME(c2.ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
           c2.value AS c_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c2
      ON p.user_id = c2.user_id
     AND c2.ts >= p.ts - INTERVAL 1 HOUR AND c2.ts <= p.ts
    WHERE (p.ts IS NULL OR p.ts < (SELECT c FROM cut))
      AND (c2.ts IS NULL OR c2.ts < (SELECT c FROM cut))
    ORDER BY p_event_id NULLS FIRST, c_event_id NULLS FIRST
    """,
    tags=("streaming", "join"),
)
def streaming_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join run to completion:
    unmatched purchases AND unmatched clicks both emit their NULL
    counterpart columns once the watermark proves no match can still
    arrive; compared on the symmetric watermark-finalized region."""
    from ..sources.readers import read_events
    from ..streaming.windows import stream_stream_interval_join_full

    stream = read_events_stream(spark, sf_dir)
    result = run_to_completion(
        stream_stream_interval_join_full(stream),
        output_mode="append",
        state_partitions=_events_state_partitions(spark, sf_dir),
    )
    events = read_events(spark, sf_dir)
    cutoff = events.filter(F.col("event_type").isin("purchase", "click")).groupBy().agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            )
            - F.expr("INTERVAL '3 hours 1 minute'")
        ).alias("cut")
    )
    return (
        result.join(F.broadcast(cutoff))
        .filter(
            (F.col("p_ts").isNull() | (F.col("p_ts") < F.col("cut")))
            & (F.col("c_ts").isNull() | (F.col("c_ts") < F.col("cut")))
        )
        .select(
            "p_event_id",
            F.coalesce("p_user_id", "c_user_id").alias("user_id"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("p_ts"),
            "c_event_id",
            F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("c_ts"),
            "c_value",
        )
        .orderBy(
            F.col("p_event_id").asc_nulls_first(), F.col("c_event_id").asc_nulls_first()
        )
    )


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture plus two planted duplicate sets (every
    fingerprint in the raw fixture is unique, which would make a dedup
    check vacuous): copies of ``doc_id % 5 == 0`` docs at
    ``doc_id + 100000`` land one shard over (mod 3) from their original
    -- CROSS-batch duplicates, one side rejected as ``dup_of_base`` --
    and copies of ``doc_id % 7 == 0`` docs at ``doc_id + 300000``
    (300000 % 3 == 0) land in the SAME shard -- within-batch
    ``dup_in_shard`` rejections."""
    from ..sources.readers import read_documents

    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    return (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 5 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(100000))
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(300000))
        )
    )


#: staged-shard INPUT directories, one per (source fixture, recipe) per
#: process -- the documents twin of streaming/windows._STAGED_DIRS
#: (events staging has been process-cached since r11).  These are the
#: stream's input files, deterministically derived from the parquet
#: fixture; caching them is input staging, not result caching -- every
#: bench iteration still runs the full per-batch dedup/PSI computation
#: from these files (the manifest/out/checkpoint dirs stay fresh per
#: invocation).
_DOC_SHARD_CACHE: dict[tuple, tuple[str, object]] = {}


def _stage_document_shards(
    docs: DataFrame, mtime_anchor: str, n_shards: int = 3, cache_key: tuple | None = None
):
    """Stage a documents DataFrame as ``n_shards`` single-file parquet
    shards (split by ``doc_id % n_shards``) with strictly increasing
    mtimes, so a ``maxFilesPerTrigger=1`` file stream processes them as
    deterministic, ordered micro-batches (FileStreamSource orders new
    files by modification time).  Returns (staged_dir, schema).

    ``cache_key`` (e.g. ``(sf_dir, "aug", 3)``) reuses the staged dir
    across invocations in one process -- in production the landing
    directory EXISTS; re-synthesizing it per run billed fixture prep to
    the streaming operator (~1.5 s/run at sf0.1, 3 corpus scans)."""
    import os
    import re
    import shutil
    import tempfile

    if cache_key is not None and cache_key in _DOC_SHARD_CACHE:
        staged, schema = _DOC_SHARD_CACHE[cache_key]
        # validate the shard FILES, not just the directory: a /tmp
        # reaper that removes the files but leaves the dir would make
        # the file stream silently read zero batches (ADVICE r12)
        if os.path.isdir(staged) and sum(
            1
            for e in os.listdir(staged)
            if re.fullmatch(r"shard_\d+\.parquet", e)
        ) == n_shards:
            return staged, schema
        del _DOC_SHARD_CACHE[cache_key]
    staged = tempfile.mkdtemp(prefix="docs_shards_")
    t0 = os.stat(mtime_anchor).st_mtime
    for b in range(n_shards):
        tmp = os.path.join(staged, f"_tmp_{b}")
        docs.filter(F.col("doc_id") % n_shards == b).coalesce(1).write.parquet(tmp)
        part = next(
            e for e in os.listdir(tmp)
            if e.endswith(".parquet") and not e.startswith(("_", "."))
        )
        dst = os.path.join(staged, f"shard_{b}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + 60 * b, t0 + 60 * b))
    if cache_key is not None:
        _DOC_SHARD_CACHE[cache_key] = (staged, docs.schema)
    return staged, docs.schema


#: the one oracle of the three streaming_incremental_dedup* rows (their
#: batch bodies differ, the answer cannot).  First arrival wins ACROSS
#: batches (a fingerprint already in the manifest is dup_of_base), min
#: doc_id wins WITHIN a batch -- with the deterministic doc_id % 3
#: sharding and ordered batches, the survivor per fingerprint is exactly
#: ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY shard, doc_id)
#: = 1.  The fingerprint replicates operators.dedup.fingerprint: md5
#: over whitespace-collapsed lower(trim(text)); the aug CTE replicates
#: _augmented_docs' planted duplicates (the raw fixture's fingerprints
#: are all unique -- without planting, nothing would ever be rejected
#: and the check would be vacuous).
_INC_DEDUP_ORACLE = r"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 300000, text FROM documents WHERE doc_id % 7 = 0
    ),
    d AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fingerprint,
             doc_id % 3 AS shard
      FROM aug
    ),
    ranked AS (
      SELECT doc_id, fingerprint,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY shard, doc_id) AS rn
      FROM d
    )
    SELECT doc_id, fingerprint FROM ranked WHERE rn = 1 ORDER BY doc_id
    """


@register(
    "streaming_incremental_dedup",
    oracle=_INC_DEDUP_ORACLE,
    tags=("streaming", "dedup", "text"),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion manifest dedup run to completion: the
    documents fixture (plus planted cross-batch and within-batch
    duplicates, see _augmented_docs) streams in as three ordered
    micro-batches (maxFilesPerTrigger=1), each deduped in foreachBatch
    against the fingerprint manifest the previous batches built -- the
    streaming twin of incremental_shard_dedup, with end-to-end
    exactly-once via per-batch-partition idempotent writes (see
    streaming/windows.py incremental_dedup_batch)."""
    return _run_incremental_dedup(spark, sf_dir, bloom_bits=None)


def _run_incremental_dedup(
    spark: SparkSession, sf_dir: str, bloom_bits: int | None,
    confirm: str = "shuffle",
    progress_out: list | None = None,
) -> DataFrame:
    import os
    import tempfile

    from ..session import conf_scope
    from ..sources.readers import table_nbytes
    from ..streaming.windows import _stream_confs, stream_incremental_dedup

    staged, schema = _stage_document_shards(
        _augmented_docs(spark, sf_dir),
        f"{sf_dir}/documents.parquet",
        cache_key=(sf_dir, "aug", 3),
    )
    work = tempfile.mkdtemp(prefix="inc_dedup_")
    manifest, out, ckpt = f"{work}/manifest", f"{work}/out", f"{work}/ckpt"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    # byte-gated batch-body partitioning (no state stores here, but the
    # per-batch window exchange, the two parquet writes and their
    # commit-protocol file ops are all task-count-bound; micro-batches
    # are input-bounded by construction).  4 MiB/partition: denser than
    # the stateful 8 MiB default because the dedup body's per-row work
    # (md5 fingerprint + window) is heavier per input byte.
    from ..streaming.windows import streaming_shuffle_partitions

    parts = streaming_shuffle_partitions(
        spark,
        table_nbytes(os.path.join(sf_dir, "documents.parquet")),
        per_partition_bytes=4 << 20,
    )
    with conf_scope(spark, _stream_confs(state_partitions=parts)):
        q = stream_incremental_dedup(
            stream, manifest, out, ckpt, bloom_bits=bloom_bits, confirm=confirm
        )
        q.awaitTermination()
    if progress_out is not None:
        progress_out.extend(p for p in q.recentProgress if p is not None)
    return (
        spark.read.parquet(out)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


@register(
    "streaming_incremental_dedup_bloom",
    # Identical semantics, Bloom-accelerated batch body: a cumulative
    # Bloom filter over the manifest is maintained per batch, and
    # fingerprints that MISS it are definitely new -- they skip the
    # manifest join entirely; only possible members pay for the exact
    # confirm.  Hash-matching the SAME oracle as the exact variant
    # proves the filter only skips work, never changes answers (no
    # false negatives by construction).
    oracle=_INC_DEDUP_ORACLE,
    tags=("streaming", "dedup", "text", "bloom"),
)
def streaming_incremental_dedup_bloom(
    spark: SparkSession, sf_dir: str, progress_out: list | None = None
) -> DataFrame:
    """The streaming manifest dedup with the Bloom-prefiltered batch
    body (bloom_bits=2^20): must be value-identical to
    ``streaming_incremental_dedup`` -- the Bloom split only decides
    which rows take the exact-confirm join, never the outcome."""
    return _run_incremental_dedup(
        spark, sf_dir, bloom_bits=1 << 20, progress_out=progress_out
    )


@register(
    "streaming_incremental_dedup_bcast",
    # Identical semantics, broadcast-confirm batch body: the manifest
    # is SCANNED but never hash-partitioned -- the batch's distinct
    # fingerprints broadcast-semi-filter the manifest and the
    # surviving keys broadcast into a left_anti (the corpus-side
    # shuffle the default body pays every batch is gone; see
    # streaming/windows.py _broadcast_confirm_dedup and the measured
    # three-way comparison in SCALING_CURVE.md).  Same oracle as the
    # exact variant: the plan shape changes, the answer cannot.
    oracle=_INC_DEDUP_ORACLE,
    tags=("streaming", "dedup", "text"),
)
def streaming_incremental_dedup_bcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming manifest dedup with the broadcast-confirm batch
    body (``confirm='broadcast'``): must be value-identical to
    ``streaming_incremental_dedup`` -- only the join strategy against
    the manifest changes (broadcast semi-filter + anti, no manifest
    exchange), never the survivors."""
    return _run_incremental_dedup(spark, sf_dir, bloom_bits=None, confirm="broadcast")


def _text_expected_dir() -> str:
    import os

    return os.path.abspath(
        os.path.join(
            os.path.dirname(__file__), "..", "..", "fixtures", "expected_text"
        )
    )


@register(
    "streaming_quality_psi",
    # Per-micro-batch drift: PSI of each batch's quality-score
    # histogram against the cumulative histogram of all prior batches
    # (batch 0 seeds the reference, emits nothing).  The deterministic
    # doc_id % 3 sharding makes each shard one ordered micro-batch, so
    # the whole monitor replays in SQL; quality values come from the
    # independently replicated expected fixture (same join as the
    # quality_scores oracle), binning/smoothing/fixed-point identical
    # to operators/quality.distribution_psi.
    oracle=rf"""
    WITH d AS (
      SELECT doc.doc_id % 3 AS b,
             LEAST(CAST(FLOOR(e.quality / 0.1) AS INT), 9) AS bin
      FROM documents doc
      JOIN read_parquet('{_text_expected_dir()}/quality.parquet') e
        ON md5(doc.text) = e.text_md5
      WHERE e.quality IS NOT NULL AND e.quality >= 0.0 AND e.quality <= 1.0
    ),
    cnt AS (SELECT b, bin, COUNT(*) AS n FROM d GROUP BY 1, 2),
    batches AS (SELECT DISTINCT b FROM d WHERE b >= 1),
    spine AS (
      SELECT batches.b, CAST(r.bin AS INT) AS bin
      FROM batches, (SELECT UNNEST(range(0, 10)) AS bin) r
    ),
    cur AS (
      SELECT s.b, s.bin, COALESCE(c.n, 0) AS n_b
      FROM spine s LEFT JOIN cnt c ON s.b = c.b AND s.bin = c.bin
    ),
    pri AS (
      SELECT s.b, s.bin, COALESCE(SUM(c.n), 0) AS n_p
      FROM spine s LEFT JOIN cnt c ON c.b < s.b AND s.bin = c.bin
      GROUP BY s.b, s.bin
    ),
    tot AS (SELECT b, SUM(n_b) AS tot_b FROM cur GROUP BY 1),
    ptot AS (SELECT b, SUM(n_p) AS tot_p FROM pri GROUP BY 1),
    terms AS (
      SELECT cur.b,
             (cur.n_b + 0.5) / (tot.tot_b + 5.0) AS p_b,
             (pri.n_p + 0.5) / (ptot.tot_p + 5.0) AS p_p
      FROM cur
      JOIN pri ON cur.b = pri.b AND cur.bin = pri.bin
      JOIN tot ON cur.b = tot.b
      JOIN ptot ON cur.b = ptot.b
    )
    SELECT t.b AS batch_id, CAST(tot.tot_b AS BIGINT) AS n_docs,
           ROUND({sql_dsum("(p_b - p_p) * LN(p_b / p_p)", 9)}, 6) AS psi
    FROM terms t JOIN tot ON t.b = tot.b
    GROUP BY t.b, tot.tot_b ORDER BY batch_id
    """,
    tags=("streaming", "quality", "drift"),
)
def streaming_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring over the crawl-shaped document
    stream: each micro-batch's quality-score histogram PSI-scored
    against everything ingested before it (streaming/windows.py
    stream_quality_psi) -- the alert a pipeline raises when a source's
    quality distribution walks away from history."""
    import tempfile

    from ..functions.text import quality_score
    from ..sources.readers import read_documents
    from ..streaming.windows import stream_quality_psi

    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    staged, schema = _stage_document_shards(
        docs, f"{sf_dir}/documents.parquet", cache_key=(sf_dir, "plain", 3)
    )
    work = tempfile.mkdtemp(prefix="psi_stream_")
    state, out, ckpt = f"{work}/state", f"{work}/out", f"{work}/ckpt"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(quality_score("text").alias("qv"))
    )
    import os

    from ..session import conf_scope
    from ..sources.readers import table_nbytes
    from ..streaming.windows import _stream_confs, streaming_shuffle_partitions

    parts = streaming_shuffle_partitions(
        spark,
        table_nbytes(os.path.join(sf_dir, "documents.parquet")),
        per_partition_bytes=4 << 20,
    )
    with conf_scope(spark, _stream_confs(state_partitions=parts)):
        q = stream_quality_psi(stream, state, out, ckpt)
        q.awaitTermination()
    return (
        spark.read.parquet(out)
        .select(F.col("batch_id").cast("long").alias("batch_id"), "n_docs", "psi")
        .orderBy("batch_id")
    )
