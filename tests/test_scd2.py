"""SCD2/CDC semantics on crafted change streams: version chaining,
multiple updates per batch, out-of-order (late) updates, and the
closed-history-untouched guarantee."""

import datetime

from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.operators import scd2
from big_data_co2_emission_analysis_spark.operators.scd2 import (
    scd2_apply,
    scd2_build,
    scd2_current,
)


def _d(s):
    return datetime.date.fromisoformat(s)


def _rows(df):
    return sorted(
        (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"]))
        for r in df.collect()
    )


def test_build_chains_versions(spark):
    changes = spark.createDataFrame(
        [
            (1, "a", _d("2024-01-01")),
            (1, "b", _d("2024-02-01")),
            (2, "x", _d("2024-01-15")),
        ],
        "k long, attr string, ts date",
    )
    dim = scd2_build(changes, ["k"], "ts")
    assert _rows(dim) == [
        (1, "a", "2024-01-01", "2024-02-01"),
        (1, "b", "2024-02-01", "None"),
        (2, "x", "2024-01-15", "None"),
    ]
    cur = scd2_current(dim)
    assert sorted((r["k"], r["attr"]) for r in cur.collect()) == [(1, "b"), (2, "x")]


def test_apply_multiple_and_late_updates(spark):
    initial = spark.createDataFrame(
        [(1, "a", _d("2024-01-01")), (1, "b", _d("2024-02-01"))],
        "k long, attr string, ts date",
    )
    dim = scd2_build(initial, ["k"], "ts")
    updates = spark.createDataFrame(
        [
            (1, "c", _d("2024-03-01")),  # normal update
            (1, "d", _d("2024-03-10")),  # second update same batch
            (2, "n", _d("2024-01-05")),  # brand-new key
        ],
        "k long, attr string, ts date",
    )
    merged = scd2_apply(dim, updates, ["k"], "ts")
    assert _rows(merged) == [
        (1, "a", "2024-01-01", "2024-02-01"),  # closed history untouched
        (1, "b", "2024-02-01", "2024-03-01"),  # open row closed by first update
        (1, "c", "2024-03-01", "2024-03-10"),  # chained within the batch
        (1, "d", "2024-03-10", "None"),
        (2, "n", "2024-01-05", "None"),
    ]
    # replay consistency: apply(build(prefix), suffix) == build(all)
    all_changes = initial.unionByName(updates)
    full = scd2_build(all_changes, ["k"], "ts")
    assert _rows(merged) == _rows(full)


def test_apply_out_of_order_update_slots_before_open_row(spark):
    """A late-arriving change earlier than the open version re-chains
    consistently (same as replaying in timestamp order)."""
    dim = scd2_build(
        spark.createDataFrame([(1, "b", _d("2024-02-01"))], "k long, attr string, ts date"),
        ["k"],
        "ts",
    )
    late = spark.createDataFrame([(1, "a", _d("2024-01-01"))], "k long, attr string, ts date")
    merged = scd2_apply(dim, late, ["k"], "ts")
    assert _rows(merged) == [
        (1, "a", "2024-01-01", "2024-02-01"),
        (1, "b", "2024-02-01", "None"),
    ]


def test_apply_late_update_inside_closed_history(spark, monkeypatch):
    """A late update older than the key's LAST CLOSED version must
    splice into the closed interval (full re-chain for that key), never
    produce overlapping validity ranges; untouched keys keep their
    closed rows byte-identical."""
    initial = spark.createDataFrame(
        [
            (1, "a", _d("2024-01-01")),
            (1, "c", _d("2024-03-01")),
            (9, "z1", _d("2024-01-01")),
            (9, "z2", _d("2024-02-01")),
        ],
        "k long, attr string, ts date",
    )
    dim = scd2_build(initial, ["k"], "ts")
    # lands between the two EXISTING closed/open versions of key 1:
    # older than the open row AND inside already-closed history
    late = spark.createDataFrame([(1, "b", _d("2024-02-01"))], "k long, attr string, ts date")
    merged = scd2_apply(dim, late, ["k"], "ts")
    assert _rows(merged) == [
        (1, "a", "2024-01-01", "2024-02-01"),  # closed row re-chained to close at b
        (1, "b", "2024-02-01", "2024-03-01"),  # spliced into its interval
        (1, "c", "2024-03-01", "None"),
        (9, "z1", "2024-01-01", "2024-02-01"),  # cold key untouched
        (9, "z2", "2024-02-01", "None"),
    ]
    # no overlaps anywhere: each version ends exactly where the next begins
    from big_data_co2_emission_analysis_spark.operators.scd2 import scd2_current

    assert scd2_current(merged).count() == 2
    # the late-key broadcast gate's shuffle fallback gives the same rows
    monkeypatch.setattr(scd2, "_BROADCAST_MAX_KEYS", 0)
    shuffled = scd2_apply(dim, late, ["k"], "ts")
    assert _rows(shuffled) == _rows(merged)


def test_apply_batch_loop_leaves_nothing_pinned(spark, tmp_path):
    """A long-lived CDC loop: every scd2_apply pins its late-key
    checkpoint (one persistent RDD per batch, which Dataset.unpersist
    cannot free), and release_pinned after each batch ends the loop
    with nothing pinned.  The dimension round-trips through parquet,
    as a stored dimension table would, so no frame reads a released
    block."""
    from big_data_co2_emission_analysis_spark.session import release_pinned

    def pinned():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    schema = "k long, attr string, ts date"
    release_pinned(spark)
    scd2_build(
        spark.createDataFrame([(1, "a", _d("2024-02-01")), (2, "x", _d("2024-02-01"))], schema),
        ["k"],
        "ts",
    ).write.parquet(str(tmp_path / "dim0"))
    batches = [
        [(1, "b", _d("2024-03-01"))],
        [(2, "w", _d("2024-01-01"))],  # late: before key 2's open row
        [(1, "c", _d("2024-04-01")), (3, "n", _d("2024-04-01"))],
    ]
    for i, rows in enumerate(batches):
        dim = spark.read.parquet(str(tmp_path / f"dim{i}"))
        merged = scd2_apply(dim, spark.createDataFrame(rows, schema), ["k"], "ts")
        merged.write.parquet(str(tmp_path / f"dim{i + 1}"))
        assert pinned() == 1  # this batch's late-key checkpoint
        assert release_pinned(spark) == 1
        assert pinned() == 0
    assert _rows(spark.read.parquet(str(tmp_path / "dim3"))) == [
        (1, "a", "2024-02-01", "2024-03-01"),
        (1, "b", "2024-03-01", "2024-04-01"),
        (1, "c", "2024-04-01", "None"),
        (2, "w", "2024-01-01", "2024-02-01"),
        (2, "x", "2024-02-01", "None"),
        (3, "n", "2024-04-01", "None"),
    ]
