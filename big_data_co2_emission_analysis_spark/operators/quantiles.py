"""Distributed EXACT quantiles (interpolated, type-7 / SQL
``percentile_cont`` semantics).

Spark's built-in exact ``percentile`` is an ObjectHashAggregate: every
group's values buffer into one in-memory array on ONE reducer and sort
there -- at 100 TB a single hot group OOMs an executor, and even three
200k-row groups serialize onto three cores.  ``percentile_approx`` is
the sketch answer; this operator is the exact answer at scale, using
the same distributed-scan shape as ``operators/packing.py``:

1. range-repartition by (key, value): partition p holds a contiguous
   slice of each key's sorted value sequence;
2. per-(partition, key) counts -- a P*K-row aggregate collected to the
   driver and exclusive-scanned into per-(partition, key) global rank
   offsets (control plane scales with partitions * keys, not rows);
3. partition-local ``row_number`` + the broadcast offset = exact global
   rank of every row within its key -- no global window, no single
   reducer;
4. the target ranks floor/ceil((n-1)*q) per (key, q) are computed
   driver-side from the same counts, broadcast, and matched by rank --
   one filter + tiny aggregate instead of a per-group sort buffer.

Designed for the FEW-HUGE-GROUPS regime (global quantiles, per-flag /
per-tenant percentiles over billions of rows).  For MANY small groups
the built-in ``percentile`` is already parallel across groups and
cheaper -- documented tradeoff, both are exposed.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    qs: list[float],
    num_partitions: int | None = None,
    materialize: bool = True,
    max_control_rows: int = 1_000_000,
) -> DataFrame:
    """``(key, q, value)`` with one row per key per requested quantile;
    ``value`` is linearly interpolated between the two bracketing order
    statistics, matching SQL ``percentile_cont`` / DuckDB
    ``quantile_cont`` / Spark ``percentile`` bit-for-bit in the common
    ``lo + (pos - lo_rank) * (hi - lo)`` formulation.  NULL values are
    ignored (SQL aggregate semantics).

    ``materialize=True`` (the default, and the only correct mode for
    real data) persists the range-partitioned frame across the two jobs
    and returns the (keys x quantiles, control-plane-bounded) result as
    a driver-local relation: it is computed eagerly, the persisted
    frame is released before returning, and NO cached RDD outlives the
    call.  Pass ``False`` ONLY to
    inspect the un-truncated logical plan -- in that mode the returned
    frame re-executes the range exchange on collection, which can
    re-sample different partition boundaries than the counts job.

    ``max_control_rows`` bounds the driver-side control plane: the
    per-(partition, key) counts collect is partitions * keys rows, which
    is tiny for the FEW-HUGE-GROUPS regime this operator targets but
    unbounded if a caller passes a high-cardinality key (then the
    built-in per-group ``percentile``/``percentile_approx`` is the right
    tool).  Guard and collect are ONE job: ``limit(max_control_rows +
    1).collect()`` (CollectLimit stops pulling partitions past the cap,
    so a runaway high-cardinality key costs one truncated fetch, never a
    driver OOM) and an over-cap result raises (the ``pq_search`` guard
    pattern, operators/similarity.py)."""
    if not qs:
        # fail fast: downstream createDataFrame calls would otherwise
        # raise an obscure "can not infer schema from empty dataset"
        raise ValueError("exact_quantiles needs at least one quantile in qs")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile out of range: {q}")
    base = df.select(
        F.col(key_col).alias("_k"), F.col(value_col).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    if num_partitions is not None:
        base = base.repartitionByRange(num_partitions, "_k", "_v")
    else:
        base = base.repartitionByRange("_k", "_v")
    base = base.withColumn("_pid", F.spark_partition_id())

    # Materialize the range-partitioned frame ONCE.  repartitionByRange
    # samples boundaries with a seed derived from the RDD id, which
    # differs per job: without the persist, the counts job and the
    # ranked-join job below would each re-run the exchange and could
    # place boundary-adjacent rows in DIFFERENT partitions than the
    # ones the broadcast offsets were computed from -- silently wrong
    # quantiles, and only in the at-scale regime where the sampler
    # subsamples partitions.  DISK_ONLY: at 100 TB this is a full copy
    # of the (projected, 2-column) data; memory caching would evict.
    if materialize:
        base = base.persist(StorageLevel.DISK_ONLY)

    # control plane: P*K rows to the driver (partitions x keys, not
    # data).  Guard and collect in ONE job: limit(max+1) caps what can
    # reach the driver (CollectLimit stops pulling partitions past the
    # cap, so a runaway high-cardinality key costs one truncated fetch,
    # never an OOM), and an over-cap result raises.  A separate
    # guard-count job here used to cost a SECOND full aggregate pass
    # over the persisted base -- at sf10 (60M rows) that pass was pure
    # duplicated scan work in every quartiles/curation query.
    ctrl = base.groupBy("_pid", "_k").agg(F.count("*").alias("_c"))
    counts = ctrl.limit(max_control_rows + 1).collect()
    if len(counts) > max_control_rows:
        if materialize:
            base.unpersist()
        raise ValueError(
            f"exact_quantiles control plane would collect more than "
            f"max_control_rows={max_control_rows} (partition, key) rows; "
            "this operator targets few huge groups -- for high-cardinality "
            "keys use the built-in percentile/percentile_approx (parallel "
            "across groups), or raise max_control_rows explicitly."
        )
    if not counts:
        # empty or all-null input: no (partition, key) slice exists, so
        # every quantile is undefined -- return an empty, correctly
        # typed (key, q, value) frame instead of letting the broadcast
        # relation builders below choke on an empty local dataset.
        if materialize:
            base.unpersist()
        from pyspark.sql.types import DoubleType, StructField, StructType

        empty_schema = StructType(
            [
                StructField(key_col, df.schema[key_col].dataType, True),
                StructField("q", DoubleType(), True),
                StructField("value", DoubleType(), True),
            ]
        )
        return df.sparkSession.createDataFrame([], empty_schema)
    per_key_total: dict = {}
    for r in sorted(counts, key=lambda r: (str(r["_k"]), r["_pid"])):
        per_key_total[r["_k"]] = per_key_total.get(r["_k"], 0) + r["_c"]
    offsets, acc = [], {}
    for r in sorted(counts, key=lambda r: (str(r["_k"]), r["_pid"])):
        offsets.append((r["_pid"], r["_k"], acc.get(r["_k"], 0)))
        acc[r["_k"]] = acc.get(r["_k"], 0) + r["_c"]

    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets, ["_pid", "_k", "_off"])
    )

    # target ranks per (key, q), driver-computed from counts
    targets = []
    for k, n in per_key_total.items():
        for q in qs:
            pos = (n - 1) * q
            lo = int(pos)
            hi = min(lo + 1, n - 1)
            targets.append((k, float(q), lo, hi, pos - lo))
    tgt = F.broadcast(
        spark.createDataFrame(targets, ["_k", "q", "_lo", "_hi", "_frac"])
    )

    # Slice pruning (r8): a target rank lives in exactly ONE
    # (partition, key) slice -- the offsets table locates it
    # driver-side -- so every other slice can skip the rank window
    # entirely.  The semi-filter below cuts the window's exchange+sort
    # input from ALL rows to only the target-containing slices
    # (keys x quantiles x <=2 slices, each ~rows/partitions): measured
    # at sf10 (60M rows, 3 keys, 3 quantiles) the window input drops
    # ~70% and wall-clock ~halves.  Value-identical -- pruned slices
    # contain no row whose global rank matches any target.
    slice_ranges: dict = {}
    for pid, k, o in offsets:
        slice_ranges.setdefault(k, []).append((pid, o))
    needed = set()
    for k, q, lo, hi, _frac in targets:
        spans = sorted(slice_ranges[k], key=lambda t: t[1])
        for rank in (lo, hi):
            owner = None
            for pid, o in spans:
                if o <= rank:
                    owner = pid
                else:
                    break
            if owner is not None:
                needed.add((owner, k))
    need_df = F.broadcast(
        spark.createDataFrame(sorted(needed), ["_pid", "_k"])
    )

    # exact global rank per key: partition-local window + offset.  The
    # (pid, key) hash exchange spreads work over the reducers; only
    # the target-containing slices enter the window at all.
    w = Window.partitionBy("_pid", "_k").orderBy("_v")
    ranked = (
        base.join(need_df, ["_pid", "_k"], "leftsemi")
        .join(off, ["_pid", "_k"])
        .select(
            "_k", "_v", (F.col("_off") + F.row_number().over(w) - 1).alias("_rank")
        )
    )

    hit = ranked.join(
        tgt, (ranked["_k"] == tgt["_k"]) & ((ranked["_rank"] == tgt["_lo"]) | (ranked["_rank"] == tgt["_hi"]))
    ).select(ranked["_k"], "q", "_lo", "_hi", "_frac", "_rank", "_v")
    result = (
        hit.groupBy("_k", "q", "_frac")
        .agg(
            F.min(F.when(F.col("_rank") == F.col("_lo"), F.col("_v"))).alias("_vlo"),
            F.min(F.when(F.col("_rank") == F.col("_hi"), F.col("_v"))).alias("_vhi"),
        )
        .select(
            F.col("_k").alias(key_col),
            "q",
            (F.col("_vlo") + F.col("_frac") * (F.col("_vhi") - F.col("_vlo"))).alias("value"),
        )
    )
    # The result is tiny (keys x quantiles rows, bounded by the control
    # plane guard): materialize it THROUGH THE DRIVER into a local
    # relation so `base` can be unpersisted here without a later action
    # silently re-running the un-cached exchange, and without pinning a
    # checkpoint RDD for the caller's lifetime.
    if materialize:
        rows = result.collect()
        schema = result.schema
        base.unpersist()
        result = spark.createDataFrame(rows, schema)
    return result
