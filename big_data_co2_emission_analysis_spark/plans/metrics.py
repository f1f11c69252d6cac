"""The measurement core: what a measured call ran, and the warm-run
protocol every timing tool follows.

- ``collect_metrics`` executes a DataFrame and walks the final adaptive
  plan's SQL metrics, aggregating the ones that decide scale behavior:
  rows/bytes scanned (is pruning working?), shuffle bytes written (is
  the plan shuffling more than the data requires?), and spill bytes
  (are partitions sized to memory?).  Use when tuning an operator::

      from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics
      m = collect_metrics(df)
      # {'output_rows_scan': ..., 'bytes_scanned': ...,
      #  'shuffle_bytes_written': ..., 'shuffle_bytes_read': ...,
      #  'spill_bytes': ..., 'n_rows': ...}

- ``_ledger`` runs a thunk and returns the jobs and completed stages
  it ran, read from Spark's in-process status store;
  ``collect_metrics_all_jobs`` (whole action) and
  ``collect_metrics_per_batch`` (per micro-batch) sum its stages.
- ``sweep`` / ``timed`` / ``warm_series`` are the warm-run protocol of
  bench.py and tools/: a sweep (release pinned blocks + JVM GC) off the
  clock before every warm run.
"""

from __future__ import annotations

import json
import re
import time

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

from ..session import release_pinned

#: metric-name fragments -> aggregate key
_METRIC_KEYS = {
    "number of output rows": "output_rows_total",
    # file-scan bytes ("size of files read" on Scan nodes) kept strictly
    # separate from shuffle-read traffic ("remote/local bytes read" on
    # shuffle readers): bytes_scanned answers "is pruning working?",
    # shuffle_bytes_read answers "is the plan moving too much?"
    "size of files read": "bytes_scanned",
    "bytes read": "shuffle_bytes_read",
    "shuffle bytes written": "shuffle_bytes_written",
    "spill size": "spill_bytes",
}


def _walk(node, out: dict) -> None:
    name = node.nodeName()
    metrics = node.metrics()
    it = metrics.iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        label = metric.name().toString() if hasattr(metric.name(), "toString") else str(metric.name())
        for frag, key in _METRIC_KEYS.items():
            if frag not in label:
                continue
            if key == "bytes_scanned" and "Scan" not in name:
                continue
            out[key] = out.get(key, 0) + metric.value()
            if key == "output_rows_total" and "Scan" in name:
                out["output_rows_scan"] = out.get("output_rows_scan", 0) + metric.value()
    # children, or -- for leaf-looking AQE wrappers whose subtree hides
    # behind an accessor (AdaptiveSparkPlan.executedPlan,
    # QueryStageExec.plan) -- the unwrapped plan.  Unwrapping only when
    # children() is empty keeps the walk acyclic and single-visit.
    ch = node.children()
    if ch.size() > 0:
        it = ch.iterator()
        while it.hasNext():
            _walk(it.next(), out)
        return
    for method in ("executedPlan", "plan"):
        if hasattr(node, method):
            try:
                _walk(getattr(node, method)(), out)
                return
            except Exception:
                pass


def collect_metrics(df: DataFrame) -> dict:
    """Execute ``df`` and return aggregated runtime metrics from the
    FINAL executed plan.  Caveat (VERDICT r9 #5): a query that
    checkpoints or persists internally runs earlier jobs whose plans
    are not part of the final plan -- their scans/shuffles are
    invisible here (the final plan just reads a LogicalRDD).  For
    whole-action accounting use :func:`collect_metrics_all_jobs`."""
    rows = df.collect()
    out: dict = {"n_rows": len(rows)}
    plan = df._jdf.queryExecution().executedPlan()
    _walk(plan, out)
    return out


#: REST StageData field -> collect_metrics-compatible key
_STAGE_FIELDS = {
    "inputRecords": "output_rows_scan",
    "inputBytes": "bytes_scanned",
    "shuffleWriteBytes": "shuffle_bytes_written",
    "shuffleReadBytes": "shuffle_bytes_read",
    "diskBytesSpilled": "spill_bytes",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
}


def _drain_listener_bus(spark) -> None:
    """Block until the async ``appStatus`` listener queue is empty.

    The AppStatusStore is fed by a listener on an async bus; job- and
    stage-completed events can lag ``df.collect()`` returning, so a
    store read without draining misses the call's trailing stages.
    ``waitUntilEmpty`` is the same barrier Spark's own tests use."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty(10_000)
    except Py4JError:  # the one-argument overload is absent on some builds
        bus.waitUntilEmpty()


def _ledger(spark, thunk) -> tuple[object, list[dict], list[dict]]:
    """Run ``thunk`` and return ``(result, jobs, stages)``: the status
    store's JobData rows for every job it ran and the StageData rows of
    every stage attempt it completed, as REST-v1-shaped dicts.

    Attribution is by id: the DAG scheduler's next job and stage ids
    taken before and after the call bound what it submitted, including
    jobs the thunk runs while it BUILDS its DataFrame (eager
    checkpoints, control-plane collects).  Correct whenever calls run
    serially in the session; concurrent calls would cross-attribute.
    Skipped stages (reused exchanges) never complete, so reuse shows as
    fewer stages.  The store is read once per list, in-process (no UI
    needed), after the listener bus is drained."""
    jsc = spark.sparkContext._jsc.sc()
    dag = jsc.dagScheduler()
    j0, s0 = int(dag.nextJobId()), int(dag.nextStageId())
    result = thunk()
    j1, s1 = int(dag.nextJobId()), int(dag.nextStageId())
    _drain_listener_bus(spark)
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    store = jsc.statusStore()
    any_status = jvm.java.util.ArrayList()  # empty filter: every status
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(any_status)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(any_status, False, False, no_quantiles, any_status))
    )
    jobs = sorted((j for j in jobs if j0 <= j["jobId"] < j1), key=lambda j: j["jobId"])
    stages = [s for s in stages if s0 <= s["stageId"] < s1 and s["status"] == "COMPLETE"]
    return result, jobs, stages


def _stage_sums(stages: list[dict]) -> dict:
    return {key: sum(s[field] for s in stages) for field, key in _STAGE_FIELDS.items()}


def collect_metrics_per_batch(thunk, spark) -> tuple[object, dict]:
    """Run ``thunk`` (typically a streaming query driven to completion)
    and attribute executor work PER MICRO-BATCH.

    Returns ``(thunk_result, batches)`` where ``batches`` maps batch id
    (int, or -1 for work not tagged with a batch -- source listing,
    manifest maintenance, result collection) to ``n_stages`` plus the
    summed stage metrics of the jobs whose description carries that
    batch id (MicroBatchExecution sets the job description per
    trigger).  The rows partition the call's completed stages, so they
    sum to the whole-action totals of :func:`collect_metrics_all_jobs`.

    Why: the streaming bench rows' wall cost is dominated by fixed
    micro-batch scheduling overhead, which masks real per-batch work
    regressions as the corpus grows (VERDICT r11 #5) -- a committed
    per-batch work table is the diffable baseline."""
    result, jobs, stages = _ledger(spark, thunk)
    batch_of_stage: dict[int, int] = {}
    for job in jobs:  # ascending ids: a stage belongs to the first job listing it
        m = re.search(r"batch\s*=?\s*(\d+)", job.get("description") or "", re.IGNORECASE)
        for sid in job["stageIds"]:
            batch_of_stage.setdefault(sid, int(m.group(1)) if m else -1)
    by_batch: dict[int, list[dict]] = {}
    for s in stages:
        by_batch.setdefault(batch_of_stage.get(s["stageId"], -1), []).append(s)
    return result, {b: {"n_stages": len(ss), **_stage_sums(ss)} for b, ss in by_batch.items()}


def collect_metrics_all_jobs(df_or_thunk, spark=None) -> dict:
    """Execute a query and return metrics summed over EVERY stage it
    ran -- including jobs behind ``localCheckpoint``/``persist``
    materializations that the final executed plan hides (the profiler
    attribution fix, VERDICT r9 #5: quartiles' checkpoint boundary made
    a 60M-row query report '9 scan rows / 0 bytes').

    Pass a ZERO-ARG CALLABLE returning the DataFrame whenever the
    query builder itself runs jobs (eager checkpoints, control-plane
    collects, persisted-count gates) -- those run at build time, so an
    already-built DataFrame would hide them from the ledger.  A plain
    DataFrame is accepted for build-free queries.

    The sums run over the :func:`_ledger` stages of build + collect.
    ``bytes_scanned``/``output_rows_scan`` are executor INPUT totals
    (file reads + cached-block reads), so a checkpointing query counts
    both the original scan and the checkpoint re-reads -- the honest
    whole-action I/O.  A failed store read raises; it never falls back
    to the plan walker, which measures something else."""
    thunk = df_or_thunk if callable(df_or_thunk) else (lambda: df_or_thunk)
    if spark is None:
        if callable(df_or_thunk):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "collect_metrics_all_jobs(thunk) needs an active session "
                    "(or pass spark=) to mark the job ids BEFORE the build"
                )
        else:
            spark = df_or_thunk.sparkSession
    rows, _, stages = _ledger(spark, lambda: thunk().collect())
    out = {"n_rows": len(rows), **_stage_sums(stages)}
    # key-compatibility with the plan walker's consumers
    out["output_rows_total"] = out["output_rows_scan"]
    return out


def sweep(spark) -> None:
    """The between-runs sweep of the warm protocol, off the clock.

    Drops operator-internal persisted data (SQL caches AND RDD-level
    localCheckpoint blocks, :func:`session.release_pinned`) so every
    warm run redoes ALL data work and only reuses compiled code."""
    release_pinned(spark)
    # Force a JVM GC so ContextCleaner promptly releases dead shuffle
    # files/metadata from the previous execution.  Spark itself only
    # forces one every 30 min (spark.cleaner.periodicGC.interval), and
    # on a large driver heap (32g at sf10) ordinary GC never fires --
    # measured effect of skipping this: after ~200 executions the
    # shuffle-heaviest query (ngram_jaccard_pairs, sized 319-partition
    # exchanges) crept 47->89->100 s across its own warm iterations in
    # the full sf10 bench while running flat at ~34 s in a fresh JVM.
    spark._jvm.System.gc()


def timed(run) -> float:
    """Seconds ``run()`` takes, rounded to the millisecond."""
    t0 = time.perf_counter()
    run()
    return round(time.perf_counter() - t0, 3)


def warm_series(spark, run, n: int) -> list[float]:
    """The warm-iteration protocol: ``n`` x (:func:`sweep`, timed
    ``run()``), then a final sweep so the next caller starts clean.
    Take ``statistics.median`` of the series as the headline number."""
    series = []
    for _ in range(n):
        sweep(spark)
        series.append(timed(run))
    sweep(spark)
    return series


def observe_quality(
    df: DataFrame, name: str = "quality", **metric_exprs
) -> tuple[DataFrame, "ObservationHandle"]:
    """In-flight data-quality metrics via ``df.observe``: the metric
    expressions (any aggregate over the observed node's rows) are
    computed DURING the job that consumes ``df`` -- zero extra jobs,
    zero extra scans, unlike a separate ``df.agg(...).collect()`` which
    re-executes lineage.  This is the production pattern for pipeline
    health counters (null rates, row counts, value bounds) on a 100 TB
    run where a second pass is unaffordable.

    Returns ``(observed_df, handle)``; run any action on a descendant
    of ``observed_df``, then read ``handle.get()``.

    Example::

        df2, h = observe_quality(df, rows=F.count(F.lit(1)),
                                 null_keys=F.count_if(F.col("k").isNull()))
        df2.write.format("noop").mode("overwrite").save()
        h.get()  # {'rows': ..., 'null_keys': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(obs, *[expr.alias(k) for k, expr in metric_exprs.items()])
    return observed, ObservationHandle(obs)


class ObservationHandle:
    """Thin wrapper so callers don't import pyspark's Observation."""

    def __init__(self, obs) -> None:
        self._obs = obs

    def get(self) -> dict:
        """Blocks until the observed job finishes; returns the metrics."""
        return dict(self._obs.get)
