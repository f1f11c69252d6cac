"""Structured Streaming semantics: batch parity for windowed aggs,
session-count parity with the batch sessionization, and watermark
late-data dropping (the part no batch oracle can express)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_co2_emission_analysis_spark.queries._exact import dsum
from big_data_co2_emission_analysis_spark.sources.readers import read_events
from big_data_co2_emission_analysis_spark.streaming.windows import (
    read_events_stream,
    run_to_completion,
    session_windows,
    tumbling_counts,
)


def test_tumbling_equals_batch(spark, sf_dir):
    stream_res = run_to_completion(
        tumbling_counts(read_events_stream(spark, sf_dir), "1 hour"), "complete"
    ).select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
        "event_type",
        "n",
        "sum_value",
    )
    batch_res = (
        read_events(spark, sf_dir)
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
    )
    assert sorted(map(tuple, stream_res.collect())) == sorted(map(tuple, batch_res.collect()))


def test_session_window_count_parity(spark, sf_dir):
    """Total sessions from streaming session_window == batch
    lag+cumsum sessionization (same 30-min gap rule)."""
    from big_data_co2_emission_analysis_spark.queries.relational import user_session_counts

    stream_sessions = run_to_completion(
        session_windows(read_events_stream(spark, sf_dir), "30 minutes"), "complete"
    )
    stream_counts = {
        r["user_id"]: r["n"]
        for r in stream_sessions.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    batch_counts = {r["user_id"]: r["n_sessions"] for r in user_session_counts(spark, sf_dir).collect()}
    assert stream_counts == batch_counts


@pytest.mark.slow
def test_watermark_drops_late_rows(spark):
    """Two micro-batches: batch 2 carries an event 3 hours older than
    the watermark frontier set by batch 1 -> its window must NOT appear
    in append-mode output, while a within-delay late event must."""
    src = tempfile.mkdtemp(prefix="late_src_")
    try:
        base = "2024-01-01 "
        batch1 = [(1, base + "10:00:05", "a"), (2, base + "10:59:59", "a")]
        # 10:30 is within the 30-min watermark delay (frontier 10:29:59)
        # after batch1; 07:00:00 is hours past it
        batch2 = [(3, base + "07:00:00", "late"), (4, base + "10:30:00", "a"), (5, base + "11:30:00", "a")]

        def write_batch(rows, name):
            df = spark.createDataFrame(rows, "event_id long, ts_s string, event_type string").select(
                "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
            )
            df.coalesce(1).write.mode("append").parquet(src)

        write_batch(batch1, "b1")
        stream = spark.readStream.schema("event_id long, ts timestamp, event_type string").parquet(src)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        ckpt = tempfile.mkdtemp(prefix="late_ckpt_")
        sink = f"late_sink_{os.getpid()}"
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            q.processAllAvailable()
            write_batch(batch2, "b2")
            q.processAllAvailable()
            # force final watermark-advance emission with one more batch
            write_batch([(6, base + "14:00:00", "a")], "b3")
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(f"SELECT * FROM {sink}")
        hours = {
            (r["win"]["start"].strftime("%H"), r["event_type"], r["n"]) for r in out.collect()
        }
        assert ("07", "late", 1) not in hours  # dropped: beyond watermark
        assert ("10", "a", 3) in hours  # includes the within-delay late row
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_user_stats_equals_batch(spark, sf_dir):
    """applyInPandasWithState final state == batch groupBy totals."""
    from big_data_co2_emission_analysis_spark.streaming.windows import stateful_user_stats

    res = run_to_completion(
        stateful_user_stats(read_events_stream(spark, sf_dir)), "update"
    )
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in res.collect()}
    batch = (
        read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
    )
    want = {r["user_id"]: (r["n"], round(r["s"], 6)) for r in batch.collect()}
    assert got == want


def test_stream_to_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch parquet sink: streamed rows land complete and
    re-readable; the checkpoint prevents re-processing on a second
    availableNow run over the same source."""
    from big_data_co2_emission_analysis_spark.streaming.windows import stream_to_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    q = stream_to_parquet(stream, out, ckpt)
    q.awaitTermination()
    n_expected = read_events(spark, sf_dir).filter(F.col("event_type") == "purchase").count()
    assert spark.read.parquet(out).count() == n_expected
    # restart over the same (fully-consumed) source: checkpoint says done
    q2 = stream_to_parquet(stream, out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n_expected


def test_stream_to_parquet_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """The at-least-once window foreachBatch leaves open: if a batch
    re-runs under the same id (crash after write, before checkpoint
    commit), the partition is REPLACED, not appended -- no duplicate
    rows."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        write_batch_idempotent,
    )

    out = str(tmp_path / "out")
    batch = read_events(spark, sf_dir).filter(F.col("event_type") == "purchase").limit(50)
    write_batch_idempotent(batch, 7, out)
    n1 = spark.read.parquet(out).count()
    write_batch_idempotent(batch, 7, out)  # replayed batch, same id
    assert spark.read.parquet(out).count() == n1
    write_batch_idempotent(batch, 8, out)  # genuinely new batch appends
    assert spark.read.parquet(out).count() == 2 * n1
    assert {r["batch_id"] for r in spark.read.parquet(out).select("batch_id").distinct().collect()} == {7, 8}


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    res = run_to_completion(
        stream_stream_interval_join(read_events_stream(spark, sf_dir)), "append"
    )
    ev = read_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    batch_n = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
    ).count()
    assert res.count() == batch_n


def test_stream_scd2_merge_matches_batch_build(spark, tmp_path):
    """Change files streamed one-per-trigger through foreachBatch SCD2
    merges must leave the SAME dimension as a one-shot batch build over
    all changes -- including a late update arriving in a later batch."""
    from big_data_co2_emission_analysis_spark.operators.scd2 import scd2_build
    from big_data_co2_emission_analysis_spark.streaming.windows import stream_scd2_merge

    schema = "k long, attr string, ts timestamp"
    batches = [
        [(1, "a", "2024-01-01"), (2, "x", "2024-01-05")],
        [(1, "c", "2024-03-01"), (3, "m", "2024-02-01")],
        [(1, "b", "2024-02-01"), (2, "y", "2024-01-20")],  # late: inside closed history
    ]
    src = tmp_path / "changes"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(k, a, __import__("datetime").datetime.fromisoformat(t)) for k, a, t in rows], schema
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))

    dim_path = str(tmp_path / "dim")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_scd2_merge(stream, dim_path, ["k"], "ts", str(tmp_path / "ckpt"))
    q.awaitTermination()

    all_rows = [r for b in batches for r in b]
    full = scd2_build(
        spark.createDataFrame(
            [(k, a, __import__("datetime").datetime.fromisoformat(t)) for k, a, t in all_rows],
            schema,
        ),
        ["k"],
        "ts",
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"])) for r in df.collect()
    )
    assert canon(spark.read.parquet(dim_path)) == canon(full)


@pytest.mark.parametrize("crash_point", ["post_stage", "post_backup"])
def test_stream_scd2_merge_torn_swap_recovery(spark, tmp_path, crash_point):
    """Chaos twin of the upsert-sink test for the SCD2 dim maintainer:
    crash inside the swap (stage written / dim renamed aside), restart
    from the same checkpoint, and the final dimension must equal the
    one-shot batch build -- no previously merged history lost."""
    import datetime
    import os

    from big_data_co2_emission_analysis_spark.operators.scd2 import scd2_build
    from big_data_co2_emission_analysis_spark.streaming.windows import stream_scd2_merge

    schema = "k long, attr string, ts timestamp"
    b1 = [(1, "a", "2024-01-01"), (2, "x", "2024-01-05")]
    b2 = [(1, "b", "2024-02-01"), (3, "m", "2024-02-10")]
    src = tmp_path / "changes"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    ck = str(tmp_path / "ckpt")

    def write_batch(i, rows):
        spark.createDataFrame(
            [(k, a, datetime.datetime.fromisoformat(t)) for k, a, t in rows], schema
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    def run(injector=None):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = stream_scd2_merge(
            stream, dim_path, ["k"], "ts", ck, fault_injector=injector
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    write_batch(0, b1)
    run()
    assert os.path.exists(dim_path)

    write_batch(1, b2)

    def boom(batch_id, point):
        if point == crash_point:
            raise RuntimeError(f"injected crash at {point}")

    with pytest.raises(Exception):
        run(injector=boom)
    if crash_point == "post_backup":
        assert not os.path.exists(dim_path)  # the torn window
        assert os.path.exists(dim_path.rstrip("/") + ".old")

    run()  # recovery + replay
    full = scd2_build(
        spark.createDataFrame(
            [(k, a, datetime.datetime.fromisoformat(t)) for k, a, t in b1 + b2], schema
        ),
        ["k"],
        "ts",
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["k"], r["attr"], str(r["valid_from"]), str(r["valid_to"])) for r in df.collect()
    )
    assert canon(spark.read.parquet(dim_path)) == canon(full)
    assert not os.path.exists(dim_path.rstrip("/") + ".old")
    assert not os.path.exists(dim_path.rstrip("/") + ".merging")


def test_tws_user_stats_matches_batch_if_protobuf_available(spark, sf_dir):
    """transformWithStateInPandas parity with the batch GROUP BY.
    The TWS worker requires google.protobuf (absent in this container)
    -- skip rather than fail where the API cannot run."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.sources.readers import read_events
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        read_events_stream,
        run_to_completion,
        stateful_user_stats_tws,
    )

    result = run_to_completion(
        stateful_user_stats_tws(read_events_stream(spark, sf_dir)),
        output_mode="update",
    ).orderBy("user_id")
    batch = (
        read_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id")
    )
    got = {r["user_id"]: r["n_events"] for r in result.collect()}
    expect = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert got == expect


def test_streaming_upsert_sink_materializes_current_state(spark, sf_dir, tmp_path):
    """foreachBatch + merge_upsert maintains the last-event-per-user
    current-state table; result equals the batch last-per-key query."""
    from big_data_co2_emission_analysis_spark.sources.readers import read_events
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        read_events_stream,
        streaming_upsert_sink,
    )

    target = str(tmp_path / "state")
    q = streaming_upsert_sink(
        read_events_stream(spark, sf_dir).select("user_id", "ts", "event_type", "value"),
        target,
        keys=["user_id"],
        order_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"))
    want = {
        (r["user_id"], r["ts"])
        for r in ev.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
        .collect()
    }
    got = {(r["user_id"], r["ts"]) for r in spark.read.parquet(target).collect()}
    assert got == want


def test_streaming_upsert_sink_replay_idempotent(spark, tmp_path):
    """Re-merging the same batch into an already-merged target changes
    nothing -- the property that turns foreachBatch's at-least-once
    into exactly-once table state."""
    import json
    import os

    from pyspark.sql import functions as F

    from big_data_co2_emission_analysis_spark.streaming.windows import (
        streaming_upsert_sink,
    )

    src_dir = str(tmp_path / "src")
    rows = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "user_id long, ts long, v string"
    )
    rows.write.mode("overwrite").parquet(src_dir)
    schema = "user_id long, ts long, v string"
    target = str(tmp_path / "state")

    def run(ck):
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = streaming_upsert_sink(
            stream, target, keys=["user_id"], order_col="ts", checkpoint_dir=ck
        )
        q.awaitTermination(60)

    run(str(tmp_path / "ck1"))
    first = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    # fresh checkpoint -> the SAME data replays as a brand-new batch
    run(str(tmp_path / "ck2"))
    second = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert first == second == [(1, 20, "b"), (2, 5, "c")]


@pytest.mark.parametrize("crash_point", ["post_stage", "post_backup"])
def test_streaming_upsert_sink_torn_swap_recovery(spark, tmp_path, crash_point):
    """Chaos test: kill the query INSIDE the foreachBatch swap (after
    the stage write / after the target is renamed aside), restart from
    the same checkpoint, and assert no previously merged state is lost.
    The ``post_backup`` point is exactly the window the old
    rmtree-then-rename implementation lost the whole table in."""
    import os

    from big_data_co2_emission_analysis_spark.streaming.windows import (
        streaming_upsert_sink,
    )

    schema = "user_id long, ts long, v string"
    src_dir = str(tmp_path / "src")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    spark.createDataFrame(
        [(1, 10, "a"), (2, 5, "c")], schema
    ).write.mode("overwrite").parquet(src_dir)

    def run(injector=None):
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = streaming_upsert_sink(
            stream, target, keys=["user_id"], order_col="ts",
            checkpoint_dir=ck, fault_injector=injector,
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run()  # batch 0 merges cleanly
    assert os.path.exists(target)

    # new files -> a second microbatch, which crashes mid-swap
    spark.createDataFrame(
        [(1, 20, "b"), (3, 7, "d")], schema
    ).write.mode("append").parquet(src_dir)

    def boom(batch_id, point):
        if point == crash_point:
            raise RuntimeError(f"injected crash at {point}")

    with pytest.raises(Exception):
        run(injector=boom)
    if crash_point == "post_backup":
        # the torn window: no live target, only the __old backup
        assert not os.path.exists(target)
        assert os.path.exists(target + "__old")

    run()  # restart: recovery + checkpoint replay of the failed batch
    got = sorted(tuple(r) for r in spark.read.parquet(target).collect())
    assert got == [(1, 20, "b"), (2, 5, "c"), (3, 7, "d")]
    assert not os.path.exists(target + "__old")
    assert not os.path.exists(target + "__stage")


def test_state_store_reader_exposes_agg_state(spark, tmp_path):
    """Spark 4 state data source: after a stateful streaming aggregate
    runs, `spark.read.format("statestore")` must expose the operator's
    keyed state (and `state-metadata` its operator catalog) -- the
    ops-debugging path for 100 TB streaming state, no checkpoint
    spelunking required."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rows = [(1, "a"), (2, "a"), (3, "b")]
    spark.createDataFrame(rows, "id long, g string").write.parquet(src)

    stream = spark.readStream.schema("id long, g string").parquet(src)
    agg = stream.groupBy("g").agg(F.count("*").alias("n"))
    sink = f"statestore_sink_{os.getpid()}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    meta = spark.read.format("state-metadata").load(ckpt)
    ops = {r.operatorName for r in meta.collect()}
    assert "stateStoreSave" in ops

    state = spark.read.format("statestore").load(ckpt)
    got = {r.key.g: r.value["count"] for r in state.collect()}
    assert got == {"a": 2, "b": 1}


def test_available_now_with_max_files_per_trigger(spark, tmp_path):
    """Trigger.AvailableNow + maxFilesPerTrigger: process ALL backlog
    then stop, in bounded microbatches -- the catch-up/backfill shape
    for file streams (a plain processAllAvailable run would take the
    whole backlog in one batch and a plain availableNow without the
    cap can OOM on a huge backlog)."""
    src = str(tmp_path / "src")
    for i in range(6):  # six separate files
        spark.createDataFrame([(i, f"v{i}")], "id long, v string").coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    sink = f"avnow_sink_{os.getpid()}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql(f"SELECT id FROM {sink}").collect()
    assert sorted(r.id for r in rows) == list(range(6))  # full backlog
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) >= 3  # cap forced multiple bounded batches
    assert all(b <= 2 for b in batches)


def test_outer_interval_join_finalized_region_anchoring(spark, tmp_path):
    """Regression for the registry cutoff bug: the LEFT OUTER interval
    join's finalized region must be anchored to the JOINED streams' own
    max event times (min of purchase/click, matching Spark's
    multipleWatermarkPolicy=min global watermark), not to MAX(ts) over
    all events -- other event types can run hours past the last click,
    and a MAX(ts)-anchored cutoff then includes purchases whose join
    state is legitimately still open (observed at sf0.001:
    spark=199 vs oracle=200).

    Fixture: clicks end at 16:00, purchases at 17:00, a lone view at
    23:00.  Global watermark = 16:00 - 2h = 14:00; correct cutoff =
    16:00 - 3h01m = 12:59.  P3 (15:30, unmatched, above the watermark)
    never emits -- the old MAX(ts)-anchored cutoff (19:59) wrongly
    demanded it."""
    import datetime as dt

    from big_data_co2_emission_analysis_spark.queries.streaming_queries import (
        streaming_interval_join_outer,
    )

    d = lambda h, m=0: dt.datetime(2024, 3, 1, h, m)  # noqa: E731
    rows = [
        # event_id, ts, user_id, event_type, value, props
        (1, d(9, 30), 1, "click", 1.0, None),
        (2, d(10), 1, "purchase", None, None),   # matched (C at 09:30)
        (3, d(12), 2, "purchase", None, None),   # unmatched, finalized -> null row
        (4, d(15, 30), 3, "purchase", None, None),  # unmatched, ABOVE watermark: state open
        (5, d(16), 9, "click", 2.0, None),       # latest click: anchors the watermark
        (6, d(17), 8, "purchase", None, None),   # latest purchase
        (7, d(23), 7, "view", 3.0, None),        # decoy: global MAX(ts) >> max click ts
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )

    got = sorted(
        (r["p_event_id"], r["p_ts"], r["c_ts"])
        for r in streaming_interval_join_outer(spark, str(tmp_path)).collect()
    )
    # finalized region = p_ts < min(17:00, 16:00) - 3h01m = 12:59
    assert got == [
        (2, "2024-03-01 10:00:00", "2024-03-01 09:30:00"),  # matched pair
        (3, "2024-03-01 12:00:00", None),  # watermark-proven null emission
    ]


def test_conf_scope_restores_and_rolls_back(spark):
    """``session.conf_scope`` (the one save/set/restore used by stream
    runs, the RocksDB provider swap and ``arrow_transfer``): restores a
    prior value, unsets a key that was unset, restores after the body
    raises, and rolls back already-applied keys when a later set fails
    on entry (a static conf cannot be set at runtime)."""
    from pyspark.errors import AnalysisException

    from big_data_co2_emission_analysis_spark.session import conf_scope

    held, fresh = "spark.sql.shuffle.partitions", "spark.co2spark.test.scopeProbe"
    prior = spark.conf.get(held)
    assert spark.conf.get(fresh, None) is None
    confs = {held: str(int(prior) + 1), fresh: "on"}

    def restored():
        return spark.conf.get(held) == prior and spark.conf.get(fresh, None) is None

    with conf_scope(spark, confs):
        assert spark.conf.get(held) == confs[held]
        assert spark.conf.get(fresh) == "on"
    assert restored()

    with pytest.raises(RuntimeError, match="body failed"):
        with conf_scope(spark, confs):
            raise RuntimeError("body failed")
    assert restored()

    entered = []
    with pytest.raises(AnalysisException):
        with conf_scope(spark, {**confs, "spark.sql.warehouse.dir": "/nonexistent"}):
            entered.append(True)
    assert not entered
    assert restored()


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The RocksDB state-store provider (production backend: state on
    executor local disk + changelog checkpointing, not executor heap)
    must be answer-invariant for the heaviest state user we have -- the
    LEFT OUTER interval join (two keyed state stores + watermark-driven
    null emission).  Also asserts the provider actually engaged by
    reading RocksDB custom metrics from the final query progress."""
    from big_data_co2_emission_analysis_spark.session import conf_scope
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        ROCKSDB_STATE_CONFS,
        stream_stream_interval_join_outer,
    )

    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    base = run_to_completion(
        stream_stream_interval_join_outer(read_events_stream(spark, sf_dir)), "append"
    )
    progress: list = []
    with conf_scope(spark, ROCKSDB_STATE_CONFS):
        rdb = run_to_completion(
            stream_stream_interval_join_outer(read_events_stream(spark, sf_dir)),
            "append",
            progress_out=progress,
        )
    assert canon(base) == canon(rdb)
    ops = progress[-1]["stateOperators"]
    assert ops, "no state operators in progress"
    custom = {k for op in ops for k in (op.get("customMetrics") or {})}
    assert any("rocksdb" in k.lower() for k in custom), custom
    # state actually held rows (join buffers both sides)
    assert sum(op.get("numRowsTotal", 0) for op in ops) > 0


def test_incremental_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch that re-runs after
    publishing its outputs (crash before checkpoint commit) must
    reproduce IDENTICAL out/manifest partitions.  The trap the
    batch_id-exclusion guards: a replayed batch reads its own
    already-published fingerprints as 'dup_of_base' and overwrites its
    partition with nothing."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], schema)
    b1 = spark.createDataFrame([(4, "beta"), (5, "gamma"), (6, "gamma")], schema)

    incremental_dedup_batch(b0, 0, manifest, out)
    incremental_dedup_batch(b1, 1, manifest, out)

    snap = lambda p: sorted(  # noqa: E731
        map(tuple, spark.read.parquet(p).select(sorted(spark.read.parquet(p).columns)).collect())
    )
    out_before, man_before = snap(out), snap(manifest)
    # batch 0 survivors: alpha->1 (3 is dup_in_shard), beta->2;
    # batch 1: beta is dup_of_base, gamma->5 (6 dup_in_shard)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 2, 5]

    incremental_dedup_batch(b1, 1, manifest, out)  # replay after publish
    assert snap(out) == out_before, "replay changed the output"
    assert snap(manifest) == man_before, "replay changed the manifest"


def test_incremental_dedup_batch_rejects_batch_id_beyond_int(spark, tmp_path):
    """The manifest is read back with ``batch_id int``: an id past
    2^31 - 1 would be written but never read back as prior history."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    b = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
    with pytest.raises(ValueError, match="batch_id"):
        incremental_dedup_batch(
            b, 1 << 31, str(tmp_path / "manifest"), str(tmp_path / "out")
        )
    assert not (tmp_path / "out").exists()


def test_incremental_dedup_broadcast_confirm_matches_exact(spark, tmp_path):
    """confirm='broadcast' (manifest scanned, never exchanged) must
    produce identical survivors/manifest to the default shuffle-join
    body, batch over batch and under replay."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], schema)
    b1 = spark.createDataFrame([(4, "beta"), (5, "gamma"), (6, "gamma")], schema)

    outs = {}
    for mode in ("shuffle", "broadcast"):
        manifest = str(tmp_path / f"m_{mode}")
        out = str(tmp_path / f"o_{mode}")
        incremental_dedup_batch(b0, 0, manifest, out, confirm=mode)
        incremental_dedup_batch(b1, 1, manifest, out, confirm=mode)
        incremental_dedup_batch(b1, 1, manifest, out, confirm=mode)  # replay
        outs[mode] = sorted(
            (r["doc_id"], r["fingerprint"])
            for r in spark.read.parquet(out).select("doc_id", "fingerprint").collect()
        )
    assert outs["shuffle"] == outs["broadcast"]
    assert [d for d, _ in outs["broadcast"]] == [1, 2, 5]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="confirm must be"):
        incremental_dedup_batch(b1, 2, str(tmp_path / "x"), str(tmp_path / "y"),
                                confirm="bogus")


def test_broadcast_confirm_envelope_falls_back_to_exact(spark, tmp_path, monkeypatch):
    """A batch whose distinct-fingerprint count exceeds
    ``_BROADCAST_MAX_FPS`` must auto-fall back to the exact shuffle body
    (value-identical) instead of building an oversized broadcast, stamp
    the stats, and resume the broadcast shape on the next normal-sized
    batch."""
    from big_data_co2_emission_analysis_spark.streaming import windows
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    monkeypatch.setattr(windows, "_BROADCAST_MAX_FPS", 4)
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], schema)
    big = spark.createDataFrame(
        [(10 + i, f"text number {i}") for i in range(8)] + [(30, "alpha")], schema
    )
    b2 = spark.createDataFrame([(40, "gamma"), (41, "beta")], schema)

    manifest, out = str(tmp_path / "m"), str(tmp_path / "o")
    s0 = incremental_dedup_batch(b0, 0, manifest, out, confirm="broadcast")
    assert s0["broadcast_fallback"] is False
    # batch 1: 9 distinct fingerprints > 4 -> forced exact-body fallback
    s1 = incremental_dedup_batch(big, 1, manifest, out, confirm="broadcast")
    assert s1["broadcast_fallback"] is True
    # batch 2: back under the envelope -> broadcast shape again
    s2 = incremental_dedup_batch(b2, 2, manifest, out, confirm="broadcast")
    assert s2["broadcast_fallback"] is False

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # alpha->1, beta->2 from b0; the 8 new texts from big (30 is a dup
    # of alpha across batches); gamma->40 (beta dup) from b2: the
    # fallback batch deduped exactly like the broadcast body would
    assert got == [1, 2] + list(range(10, 18)) + [40]


def test_broadcast_confirm_plan_never_exchanges_manifest(spark, tmp_path):
    """The point of confirm='broadcast': the manifest side reaches its
    joins through BroadcastExchange/BroadcastHashJoin only -- no
    ShuffleExchange sits between the manifest scan and its joins.  The
    window's single exchange (batch side) is the only shuffle."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        _broadcast_confirm_dedup,
    )

    base_path = str(tmp_path / "base")
    spark.createDataFrame(
        [("f1",), ("f2",)], "fingerprint string"
    ).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    df = _broadcast_confirm_dedup(batch, base, "text", "doc_id")
    df.collect()  # AQE finalizes on the SAME dataset's queryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both manifest-side joins are broadcast: a SortMergeJoin or
    # ShuffledHashJoin would mean the manifest got hash-partitioned
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the only hash exchanges are batch-side (window + candidate
    # distinct); the parquet manifest scan feeds joins directly.
    # AdaptiveSparkPlan.toString appends the pre-AQE "Initial Plan" --
    # count exchanges in the executed section only
    import re

    final_plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final_plan)) <= 2, plan


def test_incremental_dedup_bloom_split_and_replay(spark, tmp_path):
    """The Bloom-accelerated batch body: misses skip the manifest join
    (definitely new), hits take the exact confirm -- outcomes identical
    to the exact path, and the cumulative bitmap snapshot is
    replay-idempotent like the manifest partitions."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        _bloom_snapshot_path,
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta"), (3, "alpha")], schema)
    b1 = spark.createDataFrame([(4, "beta"), (5, "gamma"), (6, "gamma")], schema)
    BITS = 1 << 14

    s0 = incremental_dedup_batch(
        b0, 0, manifest, out, bloom_bits=BITS, collect_stats=True
    )
    # first batch: no manifest -> everything definitely new, post-window
    assert s0["bloom_used"] and s0["n_definite_new"] == 2 and s0["n_possible_dup"] == 0

    s1 = incremental_dedup_batch(
        b1, 1, manifest, out, bloom_bits=BITS, collect_stats=True
    )
    # beta hits the snapshot (possible dup -> exact confirm kills it);
    # gamma misses -> skips the join, within-batch window keeps doc 5
    assert s1["bloom_used"]
    assert s1["n_definite_new"] == 1
    assert s1["n_possible_dup"] >= 1  # beta (+ any false positives)
    survivors = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert survivors == [1, 2, 5]

    snap = open(_bloom_snapshot_path(manifest, 1), "rb").read()
    incremental_dedup_batch(b1, 1, manifest, out, bloom_bits=BITS)  # replay
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 2, 5]
    assert open(_bloom_snapshot_path(manifest, 1), "rb").read() == snap


def test_incremental_dedup_bloom_exact_fallback_without_snapshot(spark, tmp_path):
    """Enabling the Bloom filter mid-stream (manifest exists, snapshot
    doesn't) must NOT treat everything as definitely-new -- the batch
    falls back to the exact join."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha")], schema)
    incremental_dedup_batch(b0, 0, manifest, out)  # exact path: no snapshot written
    b1 = spark.createDataFrame([(2, "alpha")], schema)  # dup of base
    s1 = incremental_dedup_batch(b1, 1, manifest, out, bloom_bits=1 << 14)
    assert s1["n_possible_dup"] == -1  # unsplit exact fallback marker
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1]


def test_incremental_dedup_bloom_bootstrap_covers_prior_manifest(spark, tmp_path):
    """The ADVICE-r6 high bug: enabling Bloom mid-stream, the fallback
    batch published a snapshot built only from ITS OWN survivors -- so
    the NEXT batch's bitmap had false negatives over every
    pre-enablement fingerprint and admitted their duplicates.  The
    bootstrap publish must cover the whole manifest: batch 2 (the
    first batch that trusts a snapshot) still rejects a duplicate of
    the batch-0 (pre-enablement) document."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    incremental_dedup_batch(  # bloom OFF: manifest exists, no snapshot
        spark.createDataFrame([(1, "alpha")], schema), 0, manifest, out
    )
    s1 = incremental_dedup_batch(  # bloom enabled mid-stream: fallback
        spark.createDataFrame([(2, "beta")], schema), 1, manifest, out,
        bloom_bits=1 << 14,
    )
    assert s1["n_possible_dup"] == -1
    s2 = incremental_dedup_batch(  # first snapshot-trusting batch
        spark.createDataFrame([(3, "alpha"), (4, "delta")], schema),
        2, manifest, out, bloom_bits=1 << 14, collect_stats=True,
    )
    assert s2["bloom_used"]
    # "alpha" must HIT the bootstrap snapshot (pre-enablement doc) and
    # die in the exact confirm; only "delta" survives
    assert s2["n_possible_dup"] >= 1
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 2, 4]


def test_incremental_dedup_bloom_geometry_change_heals(spark, tmp_path):
    """Restarting the stream with a different ``bloom_bits`` must not
    probe the old snapshot at the wrong modulus (silent dup admission /
    row loss): the mismatched batch takes the exact path, publishes a
    full-coverage snapshot at the NEW geometry, and the batch after
    that trusts it."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        _bloom_snapshot_path,
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    incremental_dedup_batch(
        spark.createDataFrame([(1, "alpha")], schema), 0, manifest, out,
        bloom_bits=1 << 14,
    )
    s1 = incremental_dedup_batch(  # restart with bigger bitmap
        spark.createDataFrame([(2, "alpha"), (3, "beta")], schema),
        1, manifest, out, bloom_bits=1 << 16,
    )
    assert s1.get("bloom_geometry_mismatch") and s1["n_possible_dup"] == -1
    # healed snapshot: new geometry, published under batch 1's id
    snap = open(_bloom_snapshot_path(manifest, 1), "rb").read()
    assert len(snap) * 8 == 1 << 16
    s2 = incremental_dedup_batch(  # trusts the healed snapshot
        spark.createDataFrame([(4, "alpha"), (5, "gamma")], schema),
        2, manifest, out, bloom_bits=1 << 16, collect_stats=True,
    )
    assert s2["bloom_used"] and s2["n_possible_dup"] >= 1
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 3, 5]


def test_incremental_dedup_bloom_stale_snapshot_heals(spark, tmp_path):
    """A stretch of bloom-disabled batches grows the manifest without
    updating the snapshot; on re-enable the stale snapshot has false
    negatives over those batches' fingerprints and must NOT be trusted
    -- the re-enable batch goes exact + bootstrap, and the next batch
    rejects duplicates of the bloom-disabled-era documents."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    incremental_dedup_batch(
        spark.createDataFrame([(1, "alpha")], schema), 0, manifest, out,
        bloom_bits=1 << 14,
    )
    incremental_dedup_batch(  # bloom off: manifest grows, snapshot doesn't
        spark.createDataFrame([(2, "beta")], schema), 1, manifest, out
    )
    s2 = incremental_dedup_batch(  # re-enable: snapshot 0 is stale
        spark.createDataFrame([(3, "gamma")], schema), 2, manifest, out,
        bloom_bits=1 << 14,
    )
    assert s2.get("bloom_snapshot_stale") and s2["n_possible_dup"] == -1
    s3 = incremental_dedup_batch(  # dup of the bloom-off era doc
        spark.createDataFrame([(4, "beta"), (5, "delta")], schema),
        3, manifest, out, bloom_bits=1 << 14, collect_stats=True,
    )
    assert s3["bloom_used"] and s3["n_possible_dup"] >= 1
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 2, 3, 5]


def test_quality_psi_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed batch overwrites its own state and out partitions:
    results after a replay are identical to a single clean run, and the
    replayed batch never references its own half-written state."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        quality_psi_batch,
    )

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    b0 = spark.createDataFrame([(0.05,)] * 8 + [(0.95,)] * 2, "qv double")
    b1 = spark.createDataFrame([(0.05,)] * 2 + [(0.95,)] * 8, "qv double")

    quality_psi_batch(b0, 0, state, out)
    quality_psi_batch(b1, 1, state, out)
    first = spark.read.parquet(out).collect()

    quality_psi_batch(b1, 1, state, out)  # replay of batch 1
    second = spark.read.parquet(out).collect()
    assert sorted(map(str, first)) == sorted(map(str, second))
    assert len(second) == 1  # batch 0 seeds, only batch 1 emits
    assert second[0].n_docs == 10
    assert second[0].psi > 0.25  # 80/20 -> 20/80 flip is a large shift


def test_quality_psi_batch_zero_emits_nothing(spark, tmp_path):
    import os

    from big_data_co2_emission_analysis_spark.streaming.windows import (
        quality_psi_batch,
    )

    state, out = str(tmp_path / "s"), str(tmp_path / "o")
    b0 = spark.createDataFrame([(0.5,)], "qv double")
    quality_psi_batch(b0, 0, state, out)
    assert not os.path.isdir(out)  # no prior -> nothing written
    assert os.path.isdir(state)  # but the reference was seeded


def test_quality_psi_identical_batches_score_near_zero(spark, tmp_path):
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        quality_psi_batch,
    )

    state, out = str(tmp_path / "s"), str(tmp_path / "o")
    b = spark.createDataFrame([(v,) for v in (0.1, 0.3, 0.5, 0.7, 0.9) * 40],
                              "qv double")
    quality_psi_batch(b, 0, state, out)
    quality_psi_batch(b, 1, state, out)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and abs(rows[0].psi) < 0.01


def test_quality_psi_empty_first_batch_state_dir_seeds_cleanly(spark, tmp_path):
    """A 0-row first batch leaves a state dir holding only _SUCCESS (a
    0-row dynamic-overwrite write creates no partition dirs): the next
    batch must treat that as 'no prior' and seed, not crash on schema
    inference."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        quality_psi_batch,
    )
    import os

    state, out = str(tmp_path / "s"), str(tmp_path / "o")
    empty = spark.createDataFrame([], "qv double")
    quality_psi_batch(empty, 0, state, out)  # writes only _SUCCESS
    b1 = spark.createDataFrame([(0.5,)] * 4, "qv double")
    quality_psi_batch(b1, 1, state, out)  # seeds; no psi emitted
    assert not os.path.isdir(out)
    b2 = spark.createDataFrame([(0.5,)] * 4, "qv double")
    quality_psi_batch(b2, 2, state, out)
    assert len(spark.read.parquet(out).collect()) == 1


def test_quality_psi_corrupt_state_fails_loudly(spark, tmp_path):
    """Regression (r7 advice): a corrupt/unreadable state parquet must
    RAISE, not silently re-seed the PSI reference and suppress every
    subsequent drift alert (the old blanket `except Exception`)."""
    import os

    import pytest as _pytest

    from big_data_co2_emission_analysis_spark.streaming.windows import (
        quality_psi_batch,
    )

    state, out = str(tmp_path / "s"), str(tmp_path / "o")
    part = os.path.join(state, "batch_id=0")
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    b1 = spark.createDataFrame([(0.5,)] * 4, "qv double")
    with _pytest.raises(Exception):
        quality_psi_batch(b1, 1, state, out)
    assert not os.path.isdir(out)  # nothing emitted from garbage state


def test_incremental_dedup_bloom_survives_empty_first_batch(spark, tmp_path):
    """Regression (r7 review): a 0-row first batch writes a manifest
    dir holding only _SUCCESS (dynamic overwrite creates no partition
    dirs), and the bloom snapshot publish used to re-read the manifest
    unconditionally -- schema inference raised and killed the stream.
    The publish must fall back to the batch's own (empty) fingerprints
    and later batches must still dedup correctly."""
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    manifest, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    incremental_dedup_batch(empty, 0, manifest, out, bloom_bits=1 << 14)

    b1 = spark.createDataFrame([(1, "alpha"), (2, "alpha")], schema)
    incremental_dedup_batch(b1, 1, manifest, out, bloom_bits=1 << 14)
    b2 = spark.createDataFrame([(3, "alpha"), (4, "beta")], schema)
    incremental_dedup_batch(b2, 2, manifest, out, bloom_bits=1 << 14)

    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 4}  # within-batch dup 2 and cross-batch dup 3 rejected


def test_list_state_dir_hadoop_probe(spark, tmp_path):
    """ADVICE r8: state-dir probes must go through the Hadoop FS API so
    remote state paths are listed for real (or fail loudly), never
    silently treated as absent.  Local smoke: missing dir -> None,
    plain file -> None, real dir -> names, and a file:// URI (a scheme'd
    path os.listdir could not take) lists identically."""
    from big_data_co2_emission_analysis_spark.streaming.windows import _list_state_dir

    assert _list_state_dir(str(tmp_path / "nope"), spark) is None

    f = tmp_path / "plain.txt"
    f.write_text("x")
    assert _list_state_dir(str(f), spark) is None

    d = tmp_path / "state"
    (d / "batch_id=0").mkdir(parents=True)
    (d / "batch_id=3").mkdir()
    assert sorted(_list_state_dir(str(d), spark)) == ["batch_id=0", "batch_id=3"]
    assert sorted(_list_state_dir(f"file://{d}", spark)) == ["batch_id=0", "batch_id=3"]


def test_bloom_snapshot_refuses_remote_manifest_scheme(spark):
    """Bloom snapshot blobs are local-file IO by documented constraint:
    a remote manifest scheme must raise, not silently re-bootstrap the
    filter every batch."""
    import pytest

    from big_data_co2_emission_analysis_spark.streaming.windows import (
        _bloom_snapshot_path,
    )

    with pytest.raises(NotImplementedError, match="local-file IO"):
        _bloom_snapshot_path("hdfs://nn:8020/warehouse/manifest", 3)
    # local paths (bare or file://) stay fine
    assert _bloom_snapshot_path("/tmp/m", 3).endswith("cumulative_000000000003.bin")
    assert "_bloom" in _bloom_snapshot_path("file:///tmp/m", 3)


def test_list_state_dir_without_session_fails_loudly(monkeypatch, tmp_path):
    """No active session must raise a clear RuntimeError, not an opaque
    AttributeError on None._jvm (and never silently report the state
    dir absent -- that would re-seed streaming state)."""
    import pyspark.sql as pq
    import pytest as _pytest

    from big_data_co2_emission_analysis_spark.streaming.windows import _list_state_dir

    monkeypatch.setattr(pq.SparkSession, "getActiveSession", classmethod(lambda cls: None))
    with _pytest.raises(RuntimeError, match="no active SparkSession"):
        _list_state_dir(str(tmp_path))
