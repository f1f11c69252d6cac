"""Crossover-gate canaries (VERDICT r10 #6): the byte gates added in
r9/r10 switch PLAN SHAPES on corpus size -- minhash slim/stock postings,
the distinct-count repartition-first rewrite, the SimHash Arrow kernel
-- so a regression in a
gate threshold or in the wiring from gate to knobs would silently ship
the wrong plan to one side of the crossover and only surface as a
future bench delta.  These tests make a gate flip fail pytest instead:

- gate ARITHMETIC on synthetic (sparse-truncated) file sizes: None at
  or under the session default, the byte-proportional count above it;
- plan SHAPE through the actual registry callers with the gate
  monkeypatched to each side: the stock shape below, the scale shape
  above, asserted on structural physical-plan markers (the
  tests/test_plans.py pattern).

Value parity across the gate is pinned separately
(tests/test_dedup.py::test_minhash_slim_and_small_shapes_value_identical,
tests/test_relational_extra.py's distinct NULL-key tests).
"""

import os

from big_data_co2_emission_analysis_spark.plans.inspect import explain_formatted
from big_data_co2_emission_analysis_spark.queries.relational import (
    _distinct_agg_partitions,
)
from big_data_co2_emission_analysis_spark.queries.text_queries import (
    _jaccard_agg_partitions,
)


def _sparse_table(tmp_path, name, fname, nbytes):
    """A directory holding one sparse file of exactly ``nbytes`` --
    os.path.getsize sees the logical size, no disk is consumed, and the
    gates read filesystem metadata only (never the parquet content)."""
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    with open(d / fname, "wb") as fh:
        fh.truncate(nbytes)
    return str(d)


# -- gate arithmetic ---------------------------------------------------------


def test_jaccard_gate_none_below_default_scales_above(spark, tmp_path):
    # session default is 8 (conftest); divisor 512 KiB
    small = _sparse_table(tmp_path, "s", "documents.parquet", 1 << 20)  # 2 parts
    big = _sparse_table(tmp_path, "b", "documents.parquet", 64 << 20)  # 128 parts
    assert _jaccard_agg_partitions(spark, small, divisor_kib=512) is None
    assert _jaccard_agg_partitions(spark, big, divisor_kib=512) == 128
    # missing table: stay with the session default (non-local paths)
    assert _jaccard_agg_partitions(spark, str(tmp_path / "nope"), divisor_kib=512) is None


def test_jaccard_gate_sums_directory_style_parquet(spark, tmp_path):
    d = tmp_path / "dirstyle"
    (d / "documents.parquet").mkdir(parents=True)
    for i in range(4):
        with open(d / "documents.parquet" / f"part-{i}.parquet", "wb") as fh:
            fh.truncate(16 << 20)
    with open(d / "documents.parquet" / "_SUCCESS", "wb") as fh:  # metadata skipped
        fh.truncate(1 << 30)
    assert _jaccard_agg_partitions(spark, str(d), divisor_kib=512) == 128


def test_distinct_gate_none_below_default_scales_above(spark, tmp_path):
    # divisor 8 MiB, default 8 -> crossover at 64 MiB of lineitem
    small = _sparse_table(tmp_path, "ds", "lineitem.parquet", 10 << 20)  # 1 part
    big = _sparse_table(tmp_path, "db", "lineitem.parquet", 512 << 20)  # 64 parts
    assert _distinct_agg_partitions(spark, small) is None
    assert _distinct_agg_partitions(spark, big) == 64


# -- plan shape on each side of the gate -------------------------------------


def test_distinct_parts_gate_flip_changes_plan_shape(spark, sf_dir, monkeypatch):
    """Below the gate: the stock multi-countDistinct plan (Expand, 3x
    row duplication).  Above: the repartition-first rewrite -- no
    Expand, explicit (flag, key) hash repartitions at the gate's
    partition count.  The plan is built lazily; nothing executes."""
    from big_data_co2_emission_analysis_spark.queries import relational as R

    monkeypatch.setattr(R, "_distinct_agg_partitions", lambda *a, **k: None)
    stock = explain_formatted(R.distinct_parts_per_flag(spark, sf_dir))
    assert "Expand" in stock, "stock branch lost its Expand multi-distinct plan"
    assert "partitioning=[hashpartitioning(l_returnflag" not in stock

    monkeypatch.setattr(R, "_distinct_agg_partitions", lambda *a, **k: 64)
    scale = explain_formatted(R.distinct_parts_per_flag(spark, sf_dir))
    assert "Expand" not in scale, "scale branch regressed to the Expand plan"
    # the explicit co-located repartitions carry the gate's count: pin
    # the exact hashpartitioning marker so an unrelated "...64)" in the
    # plan text can never satisfy the canary
    import re

    n_parts = len(re.findall(r"hashpartitioning\([^)]*\bl_returnflag[^)]*, 64\)", scale))
    assert n_parts >= 2, scale


def test_minhash_gate_flip_changes_plan_shape(spark, sf_dir, monkeypatch):
    """Below the gate: the r8 sig-on-posting shape -- est_jaccard
    computed inside the bucket expansion, ZERO shuffle_hash joins back
    to a signature table.  Above: slim postings -- candidate pairs
    rejoin the signature table and the pruned shingle frame through
    four hinted ShuffledHashJoins."""
    from big_data_co2_emission_analysis_spark.queries import mlops as M
    from big_data_co2_emission_analysis_spark.queries import text_queries as T

    monkeypatch.setattr(T, "_jaccard_agg_partitions", lambda *a, **k: None)
    stock = explain_formatted(M.minhash_banded_near_dups(spark, sf_dir))
    assert "ShuffledHashJoin" not in stock, (
        "small branch grew signature join-backs -- slim shape leaked below the gate"
    )

    monkeypatch.setattr(T, "_jaccard_agg_partitions", lambda *a, **k: 128)
    slim = explain_formatted(M.minhash_banded_near_dups(spark, sf_dir))
    assert slim.count("ShuffledHashJoin") >= 4, (
        "slim branch lost its hinted signature/shingle join-backs:\n" + slim
    )
    # r12: the signature rejoin must be fed by the candidate-id
    # SEMI-FILTER (LeftSemi against the exploded pair-id spine), so its
    # exchanges scale with candidates rather than corpus x sig bytes.
    # Two semi joins: the signature prune + the verify-side corpus
    # prune.
    assert slim.count("LeftSemi") >= 2, (
        "slim branch lost the candidate-id semi-filter on the signature "
        "table (the r12 corpus-bytes fix):\n" + slim
    )


def test_simhash_gate_flip_changes_plan_and_keeps_rows(spark, sf_dir, monkeypatch):
    """SimHash's query-level byte gate, forced both ways at sf0.001:
    at its default (64 MiB, far above the fixture) the row signs with
    the JVM Column form; at 0 it signs through the Arrow kernel
    (``simhash64_frame``, a MapInArrow node).  Both sides produce
    identical rows."""
    from big_data_co2_emission_analysis_spark.queries import mlops as M

    def run():
        df = M.simhash_signatures(spark, sf_dir)
        plan = explain_formatted(df)
        return plan, sorted((r.doc_id, r.simhash) for r in df.collect())

    column_plan, column_rows = run()
    monkeypatch.setattr(M, "_SIMHASH_ARROW_MIN_BYTES", 0)
    arrow_plan, arrow_rows = run()
    assert "MapInArrow" not in column_plan, column_plan
    assert "MapInArrow" in arrow_plan, arrow_plan
    assert arrow_rows == column_rows and column_rows
