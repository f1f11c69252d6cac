"""Structured Streaming surface (SURVEY.md section 2.12: absent in the
reference, added by the engine because its data contract ships an
`events` stream table).

Batch parity: every streaming aggregation here has a batch twin in
queries/relational.py (events_hourly_counts etc.); running the stream
to completion over the same files must produce the same rows -- that
equivalence is both unit-tested and oracle-checked via the
streaming_* registry entries.

At scale: the same code reads Kafka instead of files by swapping
``readStream.format``; watermarks bound state, and the windowed
aggregations are incremental (partial aggregation per trigger).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import conf_scope


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),  # encoding varies by fixture, see read_events_stream
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


#: nanos-encoded variant (ts surfaces as long under nanosAsLong)
EVENTS_SCHEMA = _events_schema(T.LongType())


_STAGED_DIRS: dict[str, str] = {}


def _stage_dir(sf_dir: str) -> str:
    """FileStreamSource monitors a *directory* of data files; the
    fixture ships ``events.parquet`` as either a single flat file (the
    driver's testdata) or a Spark-written dataset directory, so stage
    hardlinks/copies of the data files into a temp dir (once per
    fixture per process).  In production the source is a real landing
    directory (or Kafka) and this shim disappears."""
    if sf_dir not in _STAGED_DIRS:
        import os
        import shutil

        staged = tempfile.mkdtemp(prefix="events_stream_")
        src = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(src):
            # Spark dataset dir: stage only the part files (the stream
            # schema is pinned, _SUCCESS/.crc markers would be globbed)
            entries = [
                e for e in os.listdir(src)
                if e.endswith(".parquet") and not e.startswith((".", "_"))
            ]
        else:
            entries = [None]
        for i, entry in enumerate(entries):
            s = src if entry is None else os.path.join(src, entry)
            dst = os.path.join(staged, f"events_{i}.parquet")
            try:
                os.link(s, dst)
            except OSError:
                shutil.copy(s, dst)
        _STAGED_DIRS[sf_dir] = staged
    return _STAGED_DIRS[sf_dir]


def _list_state_dir(path: str, spark: SparkSession | None = None) -> list[str] | None:
    """Child entry NAMES of a state/manifest directory, or ``None`` if
    it does not exist (or is a plain file).  Probes through the Hadoop
    FileSystem API rather than ``os.listdir``: a local-FS probe sees
    every ``hdfs://`` / ``s3a://`` path as absent, which at the calling
    sites silently re-seeds streaming state every batch (e.g. the PSI
    drift reference -- suppressing all subsequent drift alerts) instead
    of reading it.  With the Hadoop probe, remote schemes either list
    for real (jars configured) or fail LOUDLY in ``getFileSystem``.

    NOTE: the Bloom snapshot BLOBS (``<manifest>_bloom/*.bin``) remain
    local-file IO -- :func:`_bloom_snapshot_path` enforces that
    constraint explicitly."""
    from pyspark.sql import SparkSession as _S

    spark = spark or _S.getActiveSession()
    if spark is None:
        # fail-loudly contract: without a session there is no Hadoop
        # conf to probe through, and silently treating the path as
        # absent would re-seed streaming state (the exact failure mode
        # this function exists to prevent)
        raise RuntimeError(
            f"_list_state_dir({path!r}): no active SparkSession -- pass spark "
            "explicitly (a None session would otherwise surface as an opaque "
            "AttributeError, or as silent state re-seeding)"
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath) or not fs.getFileStatus(jpath).isDirectory():
        return None
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture, normalizing the
    timestamp encoding EXACTLY like the batch reader
    (sources.readers.read_events): a readStream must pin its schema up
    front, so probe the file's batch schema once to learn whether
    ``ts`` is nanos (surfaces as long under ``nanosAsLong`` -> rebuild
    micros timestamp) or plain micros (surfaces as TIMESTAMP_NTZ ->
    pass through).  Assuming one encoding silently corrupts the other:
    micros read as nanos divides every timestamp by 1000 and lands the
    whole stream in January 1970."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch_ts = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes).get("ts")
    if batch_ts == "bigint":
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(_stage_dir(sf_dir))
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = _events_schema(
        T.TimestampNTZType() if batch_ts == "timestamp_ntz" else T.TimestampType()
    )
    stream = spark.readStream.schema(schema).parquet(_stage_dir(sf_dir))
    # watermarks/event-time require TIMESTAMP (withWatermark rejects
    # NTZ); with the session timezone pinned UTC above the cast is an
    # exact bijection, and downstream window boundaries come out
    # identical to the nanos path's timestamp_micros rebuild
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window count+sum per event type with a watermark
    bounding state (late rows beyond the watermark are dropped)."""
    from ..queries._exact import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
    )


def sliding_counts(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Sliding-window counts: each event lands in window_size/slide
    overlapping windows."""
    from ..queries._exact import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of the
    batch lag+cumsum sessionization in queries/relational.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )


def stream_stream_interval_join(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each purchase pairs with the same
    user's clicks in the preceding ``lookback``.  Both sides carry
    watermarks + the time-range predicate, which is what lets the
    engine EXPIRE join state (clicks older than purchase-watermark -
    lookback can never match again and are dropped).  Without the
    range condition, stream-stream state grows unboundedly.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user_id = c_user_id AND c_ts >= p_ts - INTERVAL {lookback} AND c_ts <= p_ts"
        ),
        "inner",
    )


def stream_stream_interval_join_outer(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: purchases with no click
    in the lookback window still emit (with NULL click columns) -- but
    only once the watermark proves no matching click can still arrive.
    The null-emission-on-state-expiry path is what distinguishes outer
    stream joins from inner ones; the watermark isn't just a state cap
    here, it is the CORRECTNESS trigger for the unmatched rows."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user_id = c_user_id AND c_ts >= p_ts - INTERVAL {lookback} AND c_ts <= p_ts"
        ),
        "leftOuter",
    )


def stream_stream_interval_join_full(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """FULL OUTER stream-stream interval join: unmatched PURCHASES emit
    with NULL click columns AND unmatched CLICKS emit with NULL
    purchase columns, each once its side's watermark proves no match
    can still arrive.  Both sides carry watermarks + the time-range
    predicate (the state-expiry requirement is strictest for full
    outer: neither side's state can be dropped early without losing a
    null-emission).  Clicks keep their event id so unmatched click
    rows are identifiable."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user_id = c_user_id AND c_ts >= p_ts - INTERVAL {lookback} AND c_ts <= p_ts"
        ),
        "fullOuter",
    )


def streaming_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming deduplication: first arrival per key wins, duplicates
    drop for as long as their key stays in the state store.  The
    watermark bounds that state (keys older than it age out) -- without
    one, state grows forever.  The streaming twin of exact_dedup for
    at-least-once sources."""
    return events.withWatermark("ts", watermark).dropDuplicates(keys)


def streaming_dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Spark 3.5+ ``dropDuplicatesWithinWatermark``: dedupes keys whose
    EVENT TIMES fall within the watermark delay of each other, rather
    than keeping every seen key in state until it ages out.  The right
    tool when duplicates are retry artifacts (seconds apart) but the
    same logical key legitimately recurs later: state per key expires
    one watermark delay after its first arrival, so long-running
    pipelines hold state proportional to the duplicate horizon, not to
    key cardinality."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stateful_user_stats(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful per-user aggregator via ``applyInPandasWithState``
    -- the sanctioned extension point when built-in windowed aggregation
    can't express the state machine (here: running count / value sum /
    max-timestamp per user, carried in explicit GroupState across
    micro-batches).

    The built-in equivalent (groupBy(user).agg(...)) covers THIS
    reduction; the operator exists to pin the plumbing -- state schema,
    Arrow batch iteration, timeout handling -- that a real custom
    state machine (ML feature decay, CEP, per-entity rate limits)
    builds on.  State is per-key and partition-local: one shuffle on
    user_id, state store updates are incremental per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double, last_ts timestamp"
    state_schema = "n long, s double, mx timestamp"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s, mx = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
            batch_max = pdf["ts"].max()
            mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, s, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "last_ts": [mx]}
        )

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def write_batch_idempotent(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent per-batch parquet write: the batch lands in its own
    ``batch_id=N`` hive partition via dynamic partition overwrite, so a
    batch that re-runs (driver died after the write but before the
    checkpoint commit -- foreachBatch alone is only at-least-once)
    REPLACES its partition instead of appending duplicates."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def _bloom_snapshot_path(manifest_path: str, batch_id: int) -> str:
    import os

    # The snapshot blobs are read/written with plain local-file IO (a
    # bitmap is a single binary object, not a dataset); this is a
    # documented LOCAL-FS-ONLY constraint -- refuse remote schemes
    # loudly rather than silently treating the snapshot store as empty
    # (which would re-bootstrap the Bloom filter every batch).  The
    # manifest PARQUET itself is scheme-agnostic.
    if "://" in manifest_path and not manifest_path.startswith("file:"):
        raise NotImplementedError(
            f"Bloom snapshot blobs use local-file IO; manifest scheme in "
            f"{manifest_path!r} is unsupported -- run with bloom_bits=None "
            "(shuffle/broadcast confirm) for remote manifests"
        )
    return os.path.join(f"{manifest_path}_bloom", f"cumulative_{batch_id:012d}.bin")


def _latest_bloom_snapshot(manifest_path: str, before_batch_id: int):
    """(bitmap bytes, snapshot batch_id) of the newest cumulative Bloom
    snapshot strictly older than ``before_batch_id``, or (None, None).
    Reading only OLDER snapshots is the replay-safety twin of the
    manifest's ``batch_id < N`` filter."""
    import os
    import re

    d = f"{manifest_path}_bloom"
    if not os.path.isdir(d):
        return None, None
    best = None
    for e in os.listdir(d):
        mt = re.fullmatch(r"cumulative_(\d{12})\.bin", e)
        if mt and int(mt.group(1)) < before_batch_id:
            best = int(mt.group(1)) if best is None else max(best, int(mt.group(1)))
    if best is None:
        return None, None
    with open(_bloom_snapshot_path(manifest_path, best), "rb") as f:
        return f.read(), best


#: broadcast envelope of the ``confirm='broadcast'`` batch body: a
#: batch whose MEASURED distinct-fingerprint count exceeds 2M (~64 MB
#: of raw keys before hashed-relation overhead) takes the exact shuffle
#: body for that batch instead of building an oversized hashed relation.
_BROADCAST_MAX_FPS = 2_000_000


def incremental_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    manifest_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_bits: int | None = None,
    collect_stats: bool = False,
    confirm: str = "shuffle",
) -> dict:
    """One micro-batch of the streaming manifest dedup (the foreachBatch
    body of :func:`stream_incremental_dedup`, module-level so replay can
    be exercised directly in tests).  Returns a small stats dict
    (``bloom_used``, ``n_definite_new``, ``n_possible_dup``) for
    monitoring; the split counts cost two extra actions per batch, so
    they only run when ``collect_stats=True`` (tests/monitoring) -- the
    production path never pays for them.

    Dedups the batch against the fingerprint manifest built by all
    PRIOR batches (corpus text is never re-read -- the manifest ships
    only its fingerprint column), then publishes survivors and their
    fingerprints into the batch's own ``batch_id=N`` partitions.

    Three value-identical batch bodies (measured head-to-head in
    SCALING_CURVE.md "bloom manifest dedup"):

    - ``confirm='shuffle'`` (default): one shuffle chain joining batch
      and manifest on the fingerprint (operators.dedup
      incremental_dedup).  The manifest side is hash-partitioned EVERY
      batch -- per-batch cost grows with the corpus.
    - ``confirm='broadcast'``: within-batch keep-min window (one
      exchange, batch-sized), then the batch's distinct fingerprints
      broadcast-semi-filter the manifest SCAN and the surviving
      manifest keys broadcast back into a ``left_anti`` -- the
      manifest is scanned, never shuffled.  Assumes micro-batches are
      broadcast-sized (they are, by construction of a stream) -- and
      ENFORCES it: a batch whose distinct-fingerprint count exceeds
      ``_BROADCAST_MAX_FPS`` auto-falls back to the exact shuffle
      body for THAT batch instead of OOMing the driver/executors on
      the broadcast build; the fallback is value-identical and
      stamped in the returned stats (``broadcast_fallback``).  The
      guard costs one batch-sized distinct-count action per batch.
    - ``bloom_bits=<m>``: the broadcast shape plus a cumulative Bloom
      filter over the manifest; rows that MISS it skip even the
      confirm, shrinking the broadcast to ~the true-duplicate rate
      (see :func:`_bloom_split_dedup`), at the price of maintaining an
      m-bit snapshot per batch.  ``confirm`` is ignored when set.

    Replay safety (foreachBatch alone is at-least-once): both writes
    use dynamic partition overwrite, and the manifest read EXCLUDES the
    current ``batch_id`` -- a replayed batch that already published its
    fingerprints would otherwise see its own rows as ``dup_of_base``
    and overwrite its partition with nothing.  Survivors land before
    the manifest delta, so a crash between the two writes replays to
    the identical result.
    """
    from ..operators.dedup import incremental_dedup

    if confirm not in ("shuffle", "broadcast"):
        raise ValueError(f"confirm must be shuffle|broadcast, got {confirm!r}")
    if not -(1 << 31) <= batch_id < (1 << 31):
        # the manifest is read back with batch_id typed int (below)
        raise ValueError(f"batch_id must fit a 32-bit int, got {batch_id}")
    spark = batch_df.sparkSession
    try:
        # explicit schema (r13): the manifest's shape is fixed by
        # write_batch_idempotent (fingerprint data column + batch_id
        # hive partition), so per-batch footer/schema inference is pure
        # driver latency -- at 3 batches it was one listing + footer
        # read per batch in the job-gap ledger.  A missing manifest
        # path still raises (first batch), keeping base_exists=False;
        # a manifest directory holding only _SUCCESS reads as empty
        # with base_exists=True (inference would have raised there).
        base = (
            spark.read.schema("fingerprint string, batch_id int")
            .parquet(manifest_path)
            .filter(F.col("batch_id") < F.lit(batch_id))
            .select("fingerprint")
        )
        base_exists = True
    except Exception:  # first batch: manifest doesn't exist yet
        base = spark.createDataFrame([], "fingerprint string")
        base_exists = False

    stats = {"batch_id": batch_id, "bloom_used": False,
             "n_definite_new": 0, "n_possible_dup": 0,
             "broadcast_fallback": False}
    if bloom_bits is None and confirm == "broadcast":
        from ..operators.dedup import fingerprint

        n_fps = (
            batch_df.select(fingerprint(text_col).alias("fingerprint"))
            .distinct()
            .count()
        )
        if n_fps > _BROADCAST_MAX_FPS:
            # envelope exceeded: this batch would build an oversized
            # hashed relation -- take the exact shuffle body instead
            # (value-identical; the next normal-sized batch resumes
            # the broadcast shape automatically)
            stats["broadcast_fallback"] = True
            kept = incremental_dedup(batch_df, base, text_col, id_col)
        else:
            kept = _broadcast_confirm_dedup(batch_df, base, text_col, id_col)
        bloom_bootstrap = False
    elif bloom_bits is None:
        kept = incremental_dedup(batch_df, base, text_col, id_col)
        bloom_bootstrap = False
    else:
        kept, stats, bloom_bootstrap = _bloom_split_dedup(
            batch_df, base, base_exists, batch_id, manifest_path,
            text_col, id_col, bloom_bits, stats, collect_stats,
        )
    # kept is consumed by up to three jobs (out write, manifest delta,
    # bloom snapshot build); persist so the manifest join runs once.
    # persist (releasable), NOT localCheckpoint (whose RDD-level block
    # Dataset.unpersist cannot free -- the ADVICE-r5 leak).  Lazy
    # recomputation would still be CORRECT: every manifest/snapshot
    # read filters to batch_id strictly below this batch, so this
    # batch's own writes are invisible to its lineage.
    kept = kept.persist()
    write_batch_idempotent(kept, batch_id, out_path)
    write_batch_idempotent(kept.select("fingerprint"), batch_id, manifest_path)
    if bloom_bits is not None:
        # On bootstrap (filter enabled mid-stream, or geometry changed:
        # no USABLE prior snapshot) the published bitmap must cover the
        # WHOLE manifest, not just this batch -- otherwise the next
        # batch trusts it as cumulative and admits duplicates of every
        # pre-enablement document.  The delta source is kept's STILL-
        # CACHED blocks (r13; the publish runs before the unpersist):
        # identical content to the manifest partition just written, and
        # the snapshot job costs one cached-block scan -- the previous
        # shape re-read the manifest parquet per batch (listing +
        # schema) just to avoid re-walking the batch plan, which the
        # live cache already guarantees.
        _publish_bloom_snapshot(
            kept.select("fingerprint"), batch_id, manifest_path, bloom_bits,
            bootstrap_base=base if bloom_bootstrap else None,
        )
    kept.unpersist()
    return stats


def _manifest_has_batches_between(
    manifest_path: str,
    after_batch_id: int,
    before_batch_id: int,
    spark: SparkSession | None = None,
) -> bool:
    """True iff the manifest holds ``batch_id=K`` partitions with
    ``after < K < before`` -- i.e. the newest Bloom snapshot is STALE
    (the manifest grew while snapshots weren't being maintained, e.g.
    a stretch of batches run with ``bloom_bits=None``).  A stale
    snapshot has false negatives over those batches' fingerprints, so
    it must not be trusted."""
    import re

    for e in _list_state_dir(manifest_path, spark) or []:
        mt = re.fullmatch(r"batch_id=(\d+)", e)
        if mt and after_batch_id < int(mt.group(1)) < before_batch_id:
            return True
    return False


def _broadcast_confirm_dedup(
    batch_df: DataFrame,
    base: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact manifest confirm that never EXCHANGES the manifest (the
    ``confirm='broadcast'`` batch body; the bloom split is this shape
    plus the bitmap pre-filter): within-batch keep-min window (one
    fingerprint exchange, batch-sized), the batch's distinct
    fingerprints -- built from the PRE-window rows so the broadcast
    subtree doesn't duplicate the window exchange -- broadcast-
    semi-filter the manifest scan, and the surviving manifest keys
    (<= batch distinct count) broadcast into a ``left_anti``.
    Value-identical to :func:`operators.dedup.incremental_dedup`
    (oracle-checked via the registry twin)."""
    from pyspark.sql import Window as W

    from ..operators.dedup import fingerprint

    ann = batch_df.withColumn("fingerprint", fingerprint(text_col))
    w = W.partitionBy("fingerprint").orderBy(F.asc(id_col))
    winners = (
        ann.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    cand_fps = ann.select("fingerprint").distinct()
    base_hits = base.join(F.broadcast(cand_fps), "fingerprint", "leftsemi")
    return winners.join(F.broadcast(base_hits), "fingerprint", "left_anti")


def _bloom_split_dedup(
    batch_df: DataFrame,
    base: DataFrame,
    base_exists: bool,
    batch_id: int,
    manifest_path: str,
    text_col: str,
    id_col: str,
    bloom_bits: int,
    stats: dict,
    collect_stats: bool,
):
    """The Bloom-accelerated batch body: rows whose fingerprint MISSES
    the cumulative manifest filter are definitely new (no false
    negatives) and skip the manifest join entirely -- only possible
    members pay for the exact confirm.

    Plan shape (r7, measured -- see SCALING_CURVE.md "bloom manifest
    dedup"): the within-batch keep-min window runs ONCE on the whole
    batch (the same single fingerprint exchange the exact twin pays),
    and only then is the bloom split applied to the batch-unique
    winners.  Misses are done at that point (no further work); hits
    exact-confirm through a broadcast pipeline that never SHUFFLES the
    manifest: the possible-side fingerprints (bloom-bounded at roughly
    ``true-dup rate x batch + fp rate``) broadcast-semi-filter the
    manifest scan, and the surviving manifest keys (even fewer)
    broadcast back into a ``left_anti`` against the possible side.
    The exact twin instead hash-partitions the ENTIRE manifest
    fingerprint column for its join -- at crawl scale the manifest is
    the 100 TB side, so per-batch cost there grows with the corpus
    while this path's grows with the batch's duplicate rate: the
    manifest is scanned (one column, no exchange), never shuffled.
    Assumption made loud: both broadcasts are bounded by the batch's
    distinct-fingerprint count -- micro-batches are broadcast-sized by
    construction; a pipeline whose batches outgrow executor broadcast
    memory should run ``bloom_bits=None``.

    A snapshot is only trusted when it is USABLE: present, geometry
    matches (``len(bitmap)*8 == bloom_bits`` -- a restart with a
    different ``bloom_bits`` would otherwise probe the old bitmap at
    the wrong modulus and admit duplicates / drop rows), and not stale
    (no manifest batches newer than the snapshot -- a stretch of
    bloom-disabled batches would otherwise be invisible to it).  In
    every no-usable-snapshot case the whole batch takes the exact path
    and the caller publishes a BOOTSTRAP snapshot rebuilt over the full
    manifest, so the stream self-heals in one batch.

    Returns ``(kept, stats, bootstrap)`` where ``bootstrap`` tells the
    caller the published snapshot must cover the whole manifest."""
    from pyspark.sql import Window as W

    from ..operators.bloom import with_bloom_hit_jvm
    from ..operators.dedup import fingerprint, incremental_dedup

    bitmap, snap_id = _latest_bloom_snapshot(manifest_path, batch_id)
    if bitmap is not None and len(bitmap) * 8 != bloom_bits:
        stats["bloom_geometry_mismatch"] = True
        bitmap = None
    elif bitmap is not None and _manifest_has_batches_between(
        manifest_path, snap_id, batch_id, spark=batch_df.sparkSession
    ):
        stats["bloom_snapshot_stale"] = True
        bitmap = None
    ann = batch_df.withColumn("fingerprint", fingerprint(text_col))
    if bitmap is None:
        if base_exists:
            # manifest without a usable snapshot: exact path for
            # everything, and tell the caller to bootstrap-publish
            kept = incremental_dedup(batch_df, base, text_col, id_col)
            stats["n_possible_dup"] = -1  # unsplit, exact fallback
            return kept, stats, True
        hit = ann.withColumn("__bloom_hit", F.lit(False))
    else:
        hit = with_bloom_hit_jvm(ann, "fingerprint", bitmap, bloom_bits, 6)
    stats["bloom_used"] = True

    # within-batch keep-min FIRST (bloom decisions are a pure function
    # of the fingerprint, so the winner's split side is every copy's
    # split side) -- one exchange for the whole batch, reused by the
    # possible-side anti-join below (both are fingerprint-partitioned).
    w = W.partitionBy("fingerprint").orderBy(F.asc(id_col))
    winners = (
        hit.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    definite_new = winners.filter(~F.col("__bloom_hit")).drop("__bloom_hit")
    possible = winners.filter(F.col("__bloom_hit")).drop("__bloom_hit")
    if collect_stats:
        stats["n_definite_new"] = definite_new.count()
        stats["n_possible_dup"] = possible.count()
    # exact confirm without exchanging the manifest: broadcast the
    # bloom-bounded candidate keys to semi-filter the manifest SCAN,
    # then broadcast the (<= candidates) surviving manifest keys into
    # the left_anti.  The semi-filter side is built from the PRE-window
    # hits (a distinct over hit fingerprints -- any superset of the
    # possible side's keys filters base correctly), so the broadcast
    # subtree never duplicates the window exchange: differently-pruned
    # window plans would not ReusedExchange and the batch would shuffle
    # twice.  kept rows already carry their fingerprint.
    cand_fps = (
        hit.filter(F.col("__bloom_hit")).select("fingerprint").distinct()
    )
    base_hits = base.join(F.broadcast(cand_fps), "fingerprint", "leftsemi")
    confirmed_new = possible.join(
        F.broadcast(base_hits), "fingerprint", "left_anti"
    )
    return definite_new.unionByName(confirmed_new), stats, False


def _publish_bloom_snapshot(
    kept: DataFrame,
    batch_id: int,
    manifest_path: str,
    bloom_bits: int,
    bootstrap_base: DataFrame | None = None,
) -> None:
    """OR this batch's kept fingerprints into the newest prior
    cumulative snapshot and publish under the batch's own id via
    tmp + os.replace.  Replay-idempotent for the same reason the
    manifest is: the base snapshot is strictly older than this batch,
    and re-ORing identical keys reproduces the identical bitmap.

    With ``bootstrap_base`` set (the exact-fallback path: filter
    enabled mid-stream, geometry change, or stale snapshot), the
    bitmap is rebuilt over ``bootstrap_base`` (the FULL prior manifest)
    union this batch's survivors, and any prior snapshot is ignored --
    so the first trusted snapshot actually covers every fingerprint
    the manifest holds.  Replay-safe too: ``bootstrap_base`` is the
    ``batch_id < N``-filtered manifest, identical on re-run."""
    import os
    import tempfile

    import numpy as np

    from ..operators.bloom import build_bloom_bitmap, build_bloom_bitmap_sparse

    if bootstrap_base is not None:
        # full-manifest rebuild: dense bitmap, the aggregate build's shape
        build_src = bootstrap_base.select("fingerprint").unionByName(
            kept.select("fingerprint")
        )
        delta, m, _k = build_bloom_bitmap(build_src, "fingerprint", m=bloom_bits)
    else:
        # per-batch delta: the sparse shuffle-free build (bit-identical
        # positions, one narrow job) -- but its transfer grows with the
        # KEY count (~16 B x 6 positions/key), so a corpus-sized first
        # batch must take the dense word-aggregate instead (transfer
        # bounded by m/4 bytes regardless of keys).  The count reads
        # the caller's still-cached kept blocks (r13).
        n_delta = kept.count()
        if n_delta * 384 < bloom_bits:
            delta, m, _k = build_bloom_bitmap_sparse(
                kept.select("fingerprint"), "fingerprint", m=bloom_bits
            )
        else:
            delta, m, _k = build_bloom_bitmap(
                kept.select("fingerprint"), "fingerprint", m=bloom_bits
            )
    merged = np.frombuffer(delta, dtype=np.uint8).copy()
    if bootstrap_base is None:
        prior, _ = _latest_bloom_snapshot(manifest_path, batch_id)
        if prior is not None:
            if len(prior) != len(merged):
                # unreachable when the split ran (it validates the same
                # newest snapshot); loud beats silently under-covering
                raise RuntimeError(
                    f"bloom snapshot geometry changed between probe and "
                    f"publish: prior {len(prior) * 8} bits vs requested "
                    f"{bloom_bits}"
                )
            merged |= np.frombuffer(prior, dtype=np.uint8)
    dst = _bloom_snapshot_path(manifest_path, batch_id)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(dst))
    with os.fdopen(fd, "wb") as f:
        f.write(merged.tobytes())
    os.replace(tmp, dst)


def stream_incremental_dedup(
    stream_df: DataFrame,
    manifest_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    bloom_bits: int | None = None,
    confirm: str = "shuffle",
):
    """Continuous-ingestion dedup: the streaming twin of the batch
    ``incremental_dedup`` manifest pipeline.  Each micro-batch of
    documents is deduped against the manifest of everything already
    curated (first arrival wins across batches; min ``id_col`` wins
    within a batch), survivors stream into ``out_path`` and the
    manifest grows by exactly the survivors' fingerprints -- the
    steady-state crawl-pipeline shape, end-to-end exactly-once via the
    checkpoint + per-batch-partition idempotent writes (see
    :func:`incremental_dedup_batch` for the replay analysis and the
    ``confirm``/``bloom_bits`` batch-body variants).

    Scale guidance (measured three-way in SCALING_CURVE.md "bloom
    manifest dedup"): ``confirm='broadcast'`` is the at-scale
    configuration -- per-batch shuffle stays batch-sized (~5 MB at a
    50k batch) while the default body's grows linearly with the
    corpus (161 MB/batch at a 5M-row manifest and climbing).
    ``bloom_bits`` is opt-in within its envelope (manifest <= ~10^8
    fingerprints at 1% FP under the 2^30-bit cap): its bitmap
    maintenance scales with the manifest like the scan it optimizes,
    so it only pays when the batch's distinct-fingerprint broadcast
    is itself too large.  The broadcast envelope is enforced per batch
    via ``_BROADCAST_MAX_FPS`` (see :func:`incremental_dedup_batch`) --
    an anomalous oversized batch degrades to the exact body for that
    batch instead of failing the stream."""
    writer = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: incremental_dedup_batch(
                df, bid, manifest_path, out_path, text_col, id_col,
                bloom_bits=bloom_bits, confirm=confirm,
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
):
    """foreachBatch parquet sink with end-to-end exactly-once: the
    checkpoint dedupes source offsets across restarts, and the write
    itself is idempotent per batch id (dynamic overwrite of a
    ``batch_id=N`` partition -- see :func:`write_batch_idempotent`),
    which covers the failure window foreachBatch's at-least-once
    contract leaves open (a crash between parquet commit and
    checkpoint commit re-runs the same batch).  foreachBatch rather
    than the built-in parquet sink so the batch hook can also
    MERGE/upsert/dedup against the target -- the production pattern.
    Readers see a ``batch_id`` partition column; drop it if unwanted.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(batch_df, batch_id, path)

    writer = (
        df.writeStream.foreachBatch(_write)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_shuffle_partitions(
    spark: SparkSession,
    input_nbytes: int | None,
    floor: int = 4,
    per_partition_bytes: int = 8 << 20,
    cap: int = 8192,
) -> int | None:
    """Byte-gated partition count for a streaming query's exchanges and
    state stores (the ``table_nbytes`` gate family, sources/readers.py).

    Stateful operators instantiate ONE state store per shuffle
    partition per stateful sub-operator (a stream-stream join holds
    FOUR per partition), and every store pays fixed per-batch costs --
    provider load serialized under the global ``loadedProviders`` lock,
    a coordinator RPC, checkpoint delta commit -- regardless of how
    many rows it holds.  Measured at sf0.1 (jstack sampling, r12):
    32-partition state put ~97% of the join stage's executor time into
    lock/Promise WAITING (525 executor-s vs 4.9 CPU-s), and sizing the
    state down to the byte gate cut the interval join 8.9 -> 2.0 s
    with byte-identical results.  The same gate right-sizes foreachBatch
    bodies, whose micro-batches are input-bounded by construction.

    One partition per 8 MiB of compressed source bytes, floored at
    ``floor`` (parallelism for the per-row join/agg work), capped at
    ``cap`` (a 100 TB/day stream should shard its state across ~10^3-4
    stores, not 10^7 -- beyond the cap, per-store fixed costs dominate
    again).  ``None`` (keep the session default) when the byte size is
    unknowable (non-local path).  Production note: this scales with
    SOURCE bytes as a proxy for state bytes; an unbounded deployment
    whose watermark retains only a small window of the source should
    size on expected state instead -- the parameter is exposed."""
    if input_nbytes is None:
        return None
    return max(floor, min(cap, int(input_nbytes // per_partition_bytes)))


def _stream_confs(
    state_partitions: int | None = None, skip_no_data_batch: bool = False
) -> dict[str, str]:
    """Streaming-scoped session confs for a bounded stream run, applied
    with ``session.conf_scope``.  ``state_partitions`` pins
    ``spark.sql.shuffle.partitions`` (which fixes a NEW stream's state
    partitioning at first checkpoint); ``skip_no_data_batch`` disables
    no-data micro-batches -- ONLY correct for sinks whose rows are all
    emitted eagerly in data batches (inner stream-stream joins,
    complete-mode aggregations, foreachBatch bodies).  Append-mode
    aggregations and OUTER joins need the no-data finalization batch
    to emit watermark-closed results -- callers for those MUST leave it
    False.  The engine's callers run streams one at a time from the
    driver thread (the scope's session-global caveat)."""
    confs: dict[str, str] = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    if skip_no_data_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    return confs


def run_to_completion(
    agg: DataFrame,
    output_mode: str = "complete",
    progress_out: list | None = None,
    state_partitions: int | None = None,
    skip_no_data_batch: bool = False,
) -> DataFrame:
    """Drive a streaming aggregation over a bounded source to its final
    state via an availableNow trigger + memory sink; returns the result
    as a batch DataFrame.  Used for batch-parity checks and the
    streaming_* oracle queries.  If ``progress_out`` is a list, every
    retained progress dict (``recentProgress``, oldest first -- state
    -operator metrics: numRowsTotal, memoryUsedBytes, custom
    per-provider metrics) is appended to it; the LAST entry is the
    final progress, but peak state usually sits in the data batches
    before watermark eviction, so scale evidence should max over all
    entries (tools/state_scale.py).

    ``state_partitions`` sizes the query's state stores (see
    :func:`streaming_shuffle_partitions`); ``skip_no_data_batch``
    drops the trailing no-data micro-batch -- ONLY pass True when the
    sink's rows are all emitted in data batches (inner joins,
    complete-mode aggs); see :func:`_stream_confs`."""
    spark = agg.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory() as ckpt:
        with conf_scope(spark, _stream_confs(state_partitions, skip_no_data_batch)):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if progress_out is not None:
            progress_out.extend(p for p in q.recentProgress if p is not None)
        # materialize before the checkpoint dir vanishes
        result = spark.table(name).localCheckpoint(eager=True)
    return result


#: the RocksDB state-store provider (+ changelog checkpointing) for
#: queries started inside ``session.conf_scope(spark,
#: ROCKSDB_STATE_CONFS)``.  State semantics are provider-independent --
#: results must be identical to the default provider (pinned by tests
#: and the ``*_rocksdb`` registry query); what changes is WHERE state
#: lives (executor disk vs heap), which is what makes large stateful
#: topologies viable.
ROCKSDB_STATE_CONFS = {
    # The production state backend: state lives in per-partition
    # RocksDB instances on executor LOCAL DISK (block cache in memory),
    # not in the executor heap like the default HDFS-backed provider
    # whose entire state map must fit in memory.  At 100 TB-class
    # stream-stream joins / dedup, state is bounded by disk, and
    # changelog checkpointing uploads per-batch deltas instead of full
    # RocksDB snapshots, making commit cost proportional to the batch's
    # state CHANGES rather than total state size.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def stream_scd2_merge(
    stream_df: DataFrame,
    dim_path: str,
    key_cols: list[str],
    ts_col: str,
    checkpoint: str,
    order_cols: list[str] | None = None,
    available_now: bool = True,
    fault_injector=None,
):
    """Streaming CDC -> SCD2 dimension maintenance: each micro-batch of
    change rows is merged into the parquet-backed dimension with
    ``scd2_apply`` (anti-join + window re-chain, late updates spliced
    per key) inside foreachBatch -- the MERGE-INTO production pattern
    without a table format.

    The merged dimension is rewritten to a sibling dir and swapped in
    with renames, so a crash mid-batch leaves the previous dim intact
    and the checkpoint replays the batch against it (the rewrite is
    deterministic per batch => idempotent on replay).  At 100 TB the
    same hook targets Delta/Iceberg MERGE instead of a full rewrite;
    the scd2_apply plan itself only rewrites affected keys' history.
    """
    import os
    import shutil

    from ..operators.scd2 import scd2_apply

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tmp, old = dim_path.rstrip("/") + ".merging", dim_path.rstrip("/") + ".old"
        # Crash recovery BEFORE reading the dim: a crash between
        # rename(dim, old) and rename(tmp, dim) leaves no dim dir but a
        # complete ``old`` backup -- restore it, else the replayed batch
        # would silently rebuild the dim from itself alone.  A stale
        # ``tmp`` from an interrupted write is discarded (the batch
        # replays and rewrites it).
        if not os.path.exists(dim_path) and os.path.exists(old):
            os.rename(old, dim_path)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(dim_path):
            dim = spark.read.parquet(dim_path)
        else:  # empty dim with (keys..., attrs..., valid_from, valid_to)
            dim = (
                batch_df.limit(0)
                .withColumn("valid_from", F.col(ts_col))
                .withColumn("valid_to", F.col(ts_col))
            )
        merged = scd2_apply(dim, batch_df, key_cols, ts_col, order_cols)
        merged.write.mode("overwrite").parquet(tmp)
        if fault_injector is not None:  # test-only crash-point hook
            fault_injector(batch_id, "post_stage")
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dim_path):
            os.rename(dim_path, old)
        if fault_injector is not None:
            fault_injector(batch_id, "post_backup")
        os.rename(tmp, dim_path)
        shutil.rmtree(old, ignore_errors=True)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: list[str], how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich each microbatch against a batch
    dimension.  The static side is broadcast, so every microbatch joins
    map-side with no stateful join bookkeeping (unlike stream-stream
    joins there is no watermark/state: Spark re-plans the static side
    per batch, picking up dim updates between batches).  This is THE
    pattern for reference-data enrichment at 100 TB/day ingest: the
    fact stream never shuffles for the join."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """The same per-user running aggregate as
    :func:`stateful_user_stats`, on Spark 4's
    ``transformWithStateInPandas`` -- the successor stateful API:
    typed state handles (ValueState/ListState/MapState) with per-state
    TTL and timers, instead of one opaque GroupState tuple.

    ENVIRONMENT GATE: the TWS python worker speaks protobuf to the JVM
    state server; ``google.protobuf`` is not installed in this
    container, so this operator raises at stream start here (tested
    via importorskip).  ``stateful_user_stats`` (applyInPandasWithState)
    is the env-independent equivalent and carries the oracle check.  Here a
    single ValueState carries (n, sum, max_ts); a real state machine
    composes several handles.  Same scale posture: one shuffle on the
    key, incremental per-microbatch state-store updates."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("mx", LongType()),  # epoch micros (state-safe scalar)
        ]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, s, mx = self._state.get() if self._state.exists() else (0, 0.0, None)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].fillna(0.0).sum())
                batch_mx = int(pdf["ts_us"].max())
                mx = batch_mx if mx is None else max(mx, batch_mx)
            self._state.update((n, s, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "last_ts_us": [mx]}
            )

        def close(self) -> None:
            pass

    return (
        events.select(
            # cast first: unix_micros rejects TIMESTAMP_NTZ, and with
            # the session timezone pinned UTC the cast is exact
            "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "value"
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            UserStats(),
            outputStructType="user_id long, n_events long, sum_value double, last_ts_us long",
            outputMode="Update",
            timeMode="None",
        )
    )


def streaming_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    fault_injector=None,
) -> "object":
    """Maintain a CURRENT-STATE parquet table from a stream via
    foreachBatch + merge_upsert (operators/merge.py): each microbatch
    upserts into the target -- last event per key (by ``order_col``)
    wins, unseen keys insert, existing keys update.

    Crash-safety shape: the merge output writes to a ``__stage``
    sibling directory, then the live target is renamed aside to
    ``__old`` and the stage renamed in (never rmtree-then-rename: a
    crash between those two would leave NO target, and the replayed
    batch would silently rebuild the table from itself alone).  Every
    torn state is recovered at batch start: target missing + ``__old``
    present => restore the backup; stale ``__stage`` => discard (the
    checkpoint replays the batch).  A batch that re-runs after a crash
    between swap and checkpoint commit re-merges the SAME batch into
    the already-merged target -- idempotent, because upserting
    identical (key, value) rows again changes nothing.  That turns
    foreachBatch's at-least-once into effective exactly-once for the
    table state (unit-tested replay + torn-swap chaos test).

    ``fault_injector(batch_id, point)`` is a test-only hook called at
    the named crash points (``"post_stage"``, ``"post_backup"``) so
    tests can kill the query mid-swap and assert recovery.

    Scale: each microbatch pays one full-outer key shuffle against the
    current table -- the standard CDC-materialization cost; bucket the
    target (write_bucketed) to take the target-side exchange out.
    Returns the StreamingQuery.
    """
    import os
    import shutil

    from ..operators.merge import merge_upsert

    stage = target_path + "__stage"
    backup = target_path + "__old"

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # crash recovery BEFORE reading the target (see docstring)
        if not os.path.exists(target_path) and os.path.exists(backup):
            os.rename(backup, target_path)
        shutil.rmtree(stage, ignore_errors=True)
        # de-dup the batch to one row per key (last by order_col): a
        # microbatch can carry several updates for one key
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy(F.desc(order_col))
        batch_latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            merged = merge_upsert(
                target, batch_latest, keys=keys, on_duplicate_source="assume_unique"
            )
        else:
            merged = batch_latest
        merged.write.mode("overwrite").parquet(stage)
        if fault_injector is not None:
            fault_injector(batch_id, "post_stage")
        shutil.rmtree(backup, ignore_errors=True)
        if os.path.exists(target_path):
            os.rename(target_path, backup)
        if fault_injector is not None:
            fault_injector(batch_id, "post_backup")
        os.rename(stage, target_path)
        shutil.rmtree(backup, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Streaming drift monitor: per-micro-batch PSI against the cumulative
# history -- the continuous-ingestion twin of
# operators/quality.distribution_psi (same fixed-width binning, same
# Laplace smoothing, same 9-dp fixed-point sums).
# --------------------------------------------------------------------------


def quality_psi_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    out_path: str,
    value_col: str = "qv",
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    smoothing: float = 0.5,
) -> None:
    """foreachBatch body: PSI of THIS batch's ``value_col`` histogram
    against the cumulative histogram of all PRIOR batches, appended to
    ``out_path`` as (batch_id, n_docs, psi).  The first batch seeds the
    reference and emits nothing (there is no prior to drift from).

    State is the per-batch bin-count table at ``state_path`` (``bins``
    rows per batch, partitioned by batch_id) -- O(bins) per batch
    forever, never row-scale.  Replay-safe: a re-run batch OVERWRITES
    its own state partition (dynamic partition overwrite) and its out
    partition, and the prior read filters ``batch_id < N`` so a
    half-written replay partition is never its own reference.
    """
    from ..queries._exact import dsum

    spark = batch_df.sparkSession
    width = (hi - lo) / bins
    v = F.col(value_col)
    counts = (
        batch_df.filter(v.isNotNull() & (v >= lo) & (v <= hi))
        .select(
            F.least(
                F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(bins - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    import re

    # pre-check for committed PRIOR batch partitions instead of a
    # blanket except around the read (the incremental_dedup_batch
    # has_parts pattern): an absent/empty state dir means "first
    # batch, seed the reference", but a corrupt or unreadable state
    # parquet must fail LOUDLY -- silently re-seeding the reference
    # would suppress every subsequent drift alert.  The probe goes
    # through the Hadoop FileSystem API (_list_state_dir) so an
    # hdfs://-or-s3a:// state_path is listed for real -- a local-FS
    # probe would see it as absent and re-seed every batch, the exact
    # failure mode this pre-check exists to eliminate (ADVICE r8).
    prior = None
    has_prior = any(
        (mt := re.fullmatch(r"batch_id=(\d+)", e)) and int(mt.group(1)) < batch_id
        for e in _list_state_dir(state_path, spark) or []
    )
    if has_prior:
        prior = (
            spark.read.parquet(state_path)
            .filter(F.col("batch_id") < batch_id)  # partition-pruned
            .groupBy("bin")
            .agg(F.sum("n").alias("n_p"))
        )
        if prior.limit(1).count() == 0:
            prior = None

    if prior is not None:
        s, sb = float(smoothing), float(smoothing) * bins
        spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
        dense = (
            spine.join(F.broadcast(counts), "bin", "left")
            .join(F.broadcast(prior), "bin", "left")
            .select(
                "bin",
                F.coalesce(F.col("n"), F.lit(0)).alias("n_b"),
                F.coalesce(F.col("n_p"), F.lit(0)).alias("n_p"),
            )
            .join(
                F.broadcast(
                    counts.agg(F.sum("n").alias("tot_b")).select(
                        F.coalesce(F.col("tot_b"), F.lit(0)).alias("tot_b")
                    )
                )
            )
            .join(F.broadcast(prior.agg(F.sum("n_p").alias("tot_p"))))
        )
        p_b = (F.col("n_b") + F.lit(s)) / (F.col("tot_b") + F.lit(sb))
        p_p = (F.col("n_p") + F.lit(s)) / (F.col("tot_p") + F.lit(sb))
        term = (p_b - p_p) * F.log(p_b / p_p)
        result = dense.agg(
            F.max("tot_b").cast("long").alias("n_docs"),
            F.round(dsum(term, 9), 6).alias("psi"),
        )
        write_batch_idempotent(result, batch_id, out_path)

    # publish AFTER the psi read: this batch never references itself
    write_batch_idempotent(counts, batch_id, state_path)


def stream_quality_psi(
    stream_df: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    value_col: str = "qv",
    bins: int = 10,
    available_now: bool = True,
):
    """Continuous drift monitoring: each micro-batch's ``value_col``
    distribution is PSI-scored against everything ingested before it
    (see :func:`quality_psi_batch`).  The monitor a crawl pipeline
    alerts on next to the dedup manifest -- a source/snapshot whose
    quality histogram walks away from history shows up as a rising
    per-batch PSI long before aggregate means move."""
    writer = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: quality_psi_batch(
                df, bid, state_path, out_path, value_col=value_col, bins=bins
            )
        )
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
