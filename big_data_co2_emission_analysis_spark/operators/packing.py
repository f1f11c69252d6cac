"""Concat-and-split sequence packing for LLM pretraining batches.

Pretraining consumes fixed-length token sequences, but documents have
arbitrary lengths; the standard packing scheme (GPT-style) CONCATENATES
all documents in a deterministic order into one virtual token stream
and SPLITS it every ``budget`` tokens.  Every training sequence is
exactly full (the last one excepted), and a document that straddles a
boundary contributes a piece to each side.  This operator emits the
packing MANIFEST -- which token span of which document lands in which
sequence -- which a loader then uses to assemble batches.

The core computation is a GLOBAL PREFIX SUM of token counts in document
order.  A naive ``Window.orderBy(id)`` with no partition key funnels
the whole table through ONE reducer -- the classic scale-killer.  This
implementation is the textbook distributed scan instead:

1. range-repartition by the order key (partition p holds a contiguous
   key range, ranges ascending with p);
2. per-partition token totals -- a tiny P-row aggregate collected to
   the driver (P = number of partitions, not data size) and turned into
   per-partition starting offsets (an exclusive scan over P numbers);
3. a within-partition cumulative sum (``Window.partitionBy(pid)`` --
   fully parallel) plus the broadcast partition offset.

The result is invariant to the (sampled, nondeterministic) range
boundaries: each document's global start offset depends only on the
total order of ``id_col``, so output is reproducible across cluster
sizes -- the property that makes packed corpora resumable.

Bin assignment is then a pure map: a document spanning global offsets
[start, end) lands in sequences ``start DIV B .. (end-1) DIV B``,
expanded JVM-side with ``F.sequence`` + ``explode`` (a document hits
ceil(n/B)+1 sequences at most, so expansion is bounded).

The reference has no notion of token sequences (it models wide-format
CSV rows); this is engine extension surface for the 100 TB
training-data pipeline, downstream of ``token_chunks``/``doc_chunks``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def concat_split_pack(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    num_partitions: int | None = None,
    max_control_rows: int = 1_000_000,
    materialize: bool = True,
) -> DataFrame:
    """Packing manifest: ``(seq_id, <id_col>, doc_offset, tokens_in_seq,
    seq_offset)``, one row per (document piece, training sequence).

    ``id_col`` must be unique (it defines the concatenation order);
    rows with ``n_tokens_col <= 0`` are dropped (they contribute no
    tokens).  ``budget`` is the fixed sequence length in tokens.

    ``max_control_rows`` bounds the driver-side exclusive scan: one row
    per partition, so it only trips if a caller requests a pathological
    partition count -- but then it raises with the cause instead of
    collecting millions of rows (the ``pq_search`` guard pattern).

    ``materialize=True`` (the default, and the only correct mode for
    real data -- the exact_quantiles contract): the manifest is
    eagerly localCheckpointed so no later action can re-run the range
    exchange with re-sampled boundaries.  Pass ``False`` ONLY to
    inspect the un-truncated plan (tests/test_plans.py); in that mode
    a collected result can silently shift offsets at subsampling
    scale, AND the internal DISK_ONLY persist of the 2-column base
    projection deliberately stays alive for the session (the returned
    plan references it; releasing it would hand back an un-cached
    lineage that re-samples the exchange) -- ``session.release_pinned``
    frees it.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark import StorageLevel

    base = df.select(
        F.col(id_col).alias("_id"), F.col(n_tokens_col).cast("long").alias("_n")
    ).filter(F.col("_n") > 0)
    if num_partitions is not None:
        base = base.repartitionByRange(num_partitions, "_id")
    else:
        base = base.repartitionByRange("_id")
    base = base.withColumn("_pid", F.spark_partition_id())
    # Materialize the range-partitioned frame ONCE (the exact_quantiles
    # lesson, operators/quantiles.py): repartitionByRange samples its
    # boundaries with a per-JOB seed, so without this persist the
    # per-partition totals job below and the spans job would each re-run
    # the exchange and could place boundary-adjacent rows in DIFFERENT
    # partitions than the ones the broadcast offsets were computed from
    # -- silently shifted global offsets, and only in the at-scale
    # regime where the sampler subsamples (caught at sf10: two runs of
    # the same packing differed by dozens of manifest rows; exact at
    # sf<=1 where the sampler sees every row).  DISK_ONLY: a full copy
    # of the 2-column (id, n) projection -- ~16 B/row, linear, released
    # before returning.
    base = base.persist(StorageLevel.DISK_ONLY)
    # partition count without touching .rdd (which would run the range
    # sampler early): explicit arg, else the session shuffle default
    if num_partitions is not None:
        n_parts = num_partitions
    else:
        try:
            n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):  # e.g. "auto" on some builds
            n_parts = 0
    if n_parts > max_control_rows:
        raise ValueError(
            f"concat_split_pack control plane would collect {n_parts} "
            f"per-partition totals > max_control_rows={max_control_rows}; "
            "lower num_partitions (the scan needs one row per partition, "
            "not per document) or raise max_control_rows explicitly."
        )

    # P-row driver collect: one number per partition, NOT per row -- the
    # standard exclusive-scan step of a distributed prefix sum.
    totals = {
        r["_pid"]: r["_t"]
        for r in base.groupBy("_pid").agg(F.sum("_n").alias("_t")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(totals) + 1 if totals else 0):
        offsets.append((pid, acc))
        acc += totals.get(pid, 0)
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    )

    w = Window.partitionBy("_pid").orderBy("_id")
    spans = (
        base.join(off, "_pid")
        .withColumn("_start", F.col("_off") + F.sum("_n").over(w) - F.col("_n"))
        .withColumn("_end", F.col("_start") + F.col("_n"))
    )
    b = F.lit(budget)
    result = (
        spans.withColumn(
            "seq_id",
            F.explode(
                F.sequence(F.expr(f"_start DIV {budget}"), F.expr(f"(_end - 1) DIV {budget}"))
            ),
        )
        .select(
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("_id").alias(id_col),
            F.greatest(F.col("seq_id") * b - F.col("_start"), F.lit(0))
            .cast("long")
            .alias("doc_offset"),
            (
                F.least(F.col("_end"), (F.col("seq_id") + 1) * b)
                - F.greatest(F.col("_start"), F.col("seq_id") * b)
            )
            .cast("long")
            .alias("tokens_in_seq"),
            F.greatest(F.col("_start") - F.col("seq_id") * b, F.lit(0))
            .cast("long")
            .alias("seq_offset"),
        )
    )
    # release the internal persist without handing the caller an
    # un-cached lineage that would re-run (and re-sample) the range
    # exchange: eagerly localCheckpoint the manifest -- one piece row
    # per (document, sequence) crossing, far smaller than the token
    # stream -- then drop the persisted base.  localCheckpoint is
    # deliberate over persist here despite its weaker release surface
    # (Dataset.unpersist cannot free an RDD-level checkpoint block):
    # a persisted result whose blocks get EVICTED would lazily
    # recompute through a re-sampled exchange and silently shift
    # offsets, while a checkpoint either survives or fails loudly.
    # The block is freed by the ContextCleaner once the returned
    # DataFrame is garbage-collected (long-running drivers: the
    # bench.py forced-GC note applies); callers looping over many
    # pack invocations should drop references between iterations.
    if materialize:
        # finally: a failed checkpoint job must not leak the DISK_ONLY
        # base copy for the rest of the session (the exception already
        # voids the result, so there is no lineage left to protect)
        try:
            result = result.localCheckpoint(eager=True)
        finally:
            base.unpersist()
    return result


def pack_stats(manifest: DataFrame) -> DataFrame:
    """Per-sequence fill check over a :func:`concat_split_pack`
    manifest: every sequence must hold exactly ``budget`` tokens except
    the last.  One small shuffle on ``seq_id``."""
    return (
        manifest.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_pieces"),
            F.sum("tokens_in_seq").alias("n_tokens"),
        )
        .orderBy("seq_id")
    )
