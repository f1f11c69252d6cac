"""Slowly-changing-dimension type 2 (CDC history) without Delta's
MERGE INTO: anti-join + union + window, per the classic emulation
(pyspark guide "Common OLAP patterns": CDC/SCD2).

Model: a versioned dimension row is (keys..., attrs..., valid_from,
valid_to) with ``valid_to IS NULL`` marking the current version.

Scale shape: one window shuffle on the dimension key per operation;
closed history rows pass through untouched (no rewrite of cold
partitions).  With multiple updates per key in one batch, all of them
become versions chained in timestamp order -- same as replaying them
one at a time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: late-key broadcast envelope of ``scd2_apply``: the MEASURED count of
#: the checkpointed late-key spine (keys-only rows) at or below 2M
#: broadcasts; above it the plan falls back to the shuffle shape.
_BROADCAST_MAX_KEYS = 2_000_000


def scd2_build(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Build a full SCD2 history from a change stream: each change
    becomes a version valid from its timestamp until the key's next
    change (lead window); the last version per key stays open
    (valid_to NULL).

    ``order_cols`` break timestamp ties deterministically (e.g. a
    change-sequence id); ties left unbroken make version order -- and
    therefore valid_to chaining -- nondeterministic.
    """
    order_by = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (order_cols or [])]
    w = W.partitionBy(*key_cols).orderBy(*order_by)
    return changes.withColumn("valid_from", F.col(ts_col)).withColumn(
        "valid_to", F.lead("valid_from").over(w)
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a CDC update batch to an existing SCD2 dimension.

    Fast path: for keys whose updates are all at-or-after the key's
    open version, closed versions pass through untouched and only the
    open set re-chains with the updates.  LATE updates (ts before a
    key's open ``valid_from``, i.e. landing inside already-closed
    history) are detected per key and that key's FULL history is
    re-chained so the new version splices into its correct interval --
    without this, a late row would open a version overlapping a closed
    one.  Only affected keys pay the rewrite; cold keys' closed rows
    still never move.  Replay-consistent for ANY split of the change
    stream: build(prefix) then apply(suffix) equals build(everything).

    ``updates`` carries the same key/attr columns plus ``ts_col``
    (no valid_from/valid_to).

    The late-key spine (r13): ``late_keys`` is consumed by SIX joins
    (closed anti, open anti, updates anti, and the three semi legs),
    and as a lazy subtree each consumer re-ran its inner join +
    distinct AND sort-merge-joined against it -- six exchanges of the
    dim/updates sides for a decision set that is tiny whenever late
    data is rare (the common CDC case).  It is now eagerly
    localCheckpointed (computed once; keys-only rows), its MEASURED
    count -- a cheap block read off the checkpoint -- gates an explicit
    broadcast (the minhash candidate-spine discipline: never broadcast
    on estimates), and above ``_BROADCAST_MAX_KEYS`` the plan falls back
    to exactly the previous shuffle shape.  Values are unchanged on
    both sides of the gate (a checkpoint is a materialization; a
    broadcast is a join strategy).  The checkpoint pins one block per
    call until ``session.release_pinned`` frees it.
    """
    closed = dim.filter(F.col("valid_to").isNotNull())
    open_rows = dim.filter(F.col("valid_to").isNull())
    open_bare = open_rows.drop("valid_from", "valid_to")

    # keys with at least one update older than the open version's start
    open_from = open_rows.select(*key_cols, F.col("valid_from").alias("__open_from"))
    late_keys = (
        updates.join(open_from, key_cols, "inner")
        .filter(F.col(ts_col) < F.col("__open_from"))
        .select(*key_cols)
        .distinct()
        .localCheckpoint(eager=True)
    )
    if late_keys.count() <= _BROADCAST_MAX_KEYS:
        late_keys = F.broadcast(late_keys)

    # fast path: untouched closed rows + re-chain of (open + updates)
    closed_ok = closed.join(late_keys, key_cols, "left_anti")
    fast = scd2_build(
        open_bare.join(late_keys, key_cols, "left_anti").unionByName(
            updates.join(late_keys, key_cols, "left_anti")
        ),
        key_cols,
        ts_col,
        order_cols,
    )
    # late keys: full-history re-chain (closed + open + updates)
    late = scd2_build(
        closed.join(late_keys, key_cols, "left_semi")
        .drop("valid_from", "valid_to")
        .unionByName(open_bare.join(late_keys, key_cols, "left_semi"))
        .unionByName(updates.join(late_keys, key_cols, "left_semi")),
        key_cols,
        ts_col,
        order_cols,
    )
    return closed_ok.unionByName(fast).unionByName(late)


def scd2_current(dim: DataFrame) -> DataFrame:
    """The current snapshot: one open row per key."""
    return dim.filter(F.col("valid_to").isNull())
