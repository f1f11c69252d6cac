"""co2spark benchmark: end-to-end and per-layer figures for two workloads.

    python3 perfbench/run.py --workload co2_pipeline --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  One driver process with one submitting
thread drives the package in a closed loop (a call starts when the previous
one has returned) on ``local[N]``, N = the CPUs this process may use.

A run is: set-up, one cold pass over the workload's calls, then warm passes
until ``--seconds`` have been measured and the workload's minimum number of
warm passes has run (the first warm passes still carry JIT warm-up; the
median sets them aside).  The cold pass of a registry workload collects
every row and checks it against the row's DuckDB oracle after the pass;
warm passes execute rows into a noop sink.  The CO2
pipeline checks every call of every pass against an answer key computed in
numpy from the generated input.  Calls in a pass run in an order permuted
by the seed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics, read from Spark's status stores and streaming listener
and from ``/proc``, plus the tracer's own time.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
A line before it carries per-call detail.  Spark's own log goes to
``.perfbench_work/driver.log`` while the run lasts and its ERROR lines are
counted.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_co2_emission_analysis_spark"
SF_DIR = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
#: a tail percentile needs this many samples beyond it
TAIL_BEYOND = 10
MB = 1 << 20

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "input_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}
# Which end-to-end metric each layer figure should move, on which workload:
# - session.start_s: setup_s, both workloads.
# - sources.*: cold_pass_s and pass_s on co2_pipeline (CSV parse, cached
#   scans); sources.output_mb and io.disk_write_mb: pass_s on
#   text_streaming (state store, WAL and commit log writes).
# - co2.*, ml.*: pass_s, cold_pass_s and query_p50_s on co2_pipeline; ~0 on
#   text_streaming.  ml.job_gap_s is driver time between k-means jobs.
# - queries.*: pass_s and query_tail_s on text_streaming; 0 on co2_pipeline.
# - operators.pinned_*: peak_rss_mb, both workloads (blocks left pinned
#   after each call, read before the benchmark's own sweep).
# - pyworker.*: pass_s where rows cross into Python workers; ~0 at sf0.01,
#   where no benchmarked row takes a Python/Arrow path.
# - streaming.*: pass_s and query_tail_s on text_streaming.
# - spark.*: pass_s on both; job_gap_s dominates co2_pipeline and
#   text_streaming alike.  failed_tasks and error_log_lines: the failed count.
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "sources.output_mb": "MB",
    "io.disk_write_mb": "MB",
    "co2.load_clean_s": "s",
    "co2.analytics_s": "s",
    "co2.world_join_s": "s",
    "co2.jobs": "count",
    "ml.elbow_s": "s",
    "ml.fit_s": "s",
    "ml.silhouette_s": "s",
    "ml.jobs": "count",
    "ml.job_gap_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.job_gap_s": "s",
    "operators.pinned_rdds": "count",
    "operators.pinned_mb": "MB",
    "pyworker.run_s": "s",
    "pyworker.bytes": "bytes",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.addbatch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.job_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.error_log_lines": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(n_cpus: int):
    from big_data_co2_emission_analysis_spark.session import get_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}",
        # keep every job, stage and SQL execution of a run for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_session("perfbench", master=f"local[{n_cpus}]", shuffle_partitions=n_cpus, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up action
    return spark


def sweep(spark, gc: bool = False) -> None:
    """Drop cached tables and every persistent RDD (bench.py's protocol)."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    if gc:
        spark._jvm.System.gc()


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_pass(spark, wl, calls, index: int, tracer, log) -> dict:
    """Run one pass; checks run after the pass clock stops."""
    records, results = [], []
    wall_start = time.time()
    disk0 = tracer.disk_written() if tracer else 0
    busy0 = tracer.busy_s if tracer else 0.0
    for call in calls:
        rec = {"name": call.name, "span": call.span, "layer": call.layer, "pass": index}
        if tracer:
            rec["mark_start"] = tracer.mark()
        t0 = time.perf_counter()
        value, raised = None, False
        try:
            value = call.run()
            if call.noop:
                rec["build_s"] = time.perf_counter() - t0
                if tracer:
                    rec["mark_built"] = tracer.mark()
                value.write.format("noop").mode("overwrite").save()
        except Exception:
            raised = True
            traceback.print_exc(file=log)
        rec["wall_s"] = time.perf_counter() - t0
        if tracer:
            rec["mark_end"] = tracer.mark()
            rec["pinned_rdds"], rec["pinned_mb"] = tracer.pinned()
        if wl.sweep_each_call:
            sweep(spark)
        records.append(rec)
        results.append((rec, call, value, raised))
    wall_end = time.time()
    out = {
        "index": index,
        "calls": records,
        "wall": (wall_start, wall_end),
        "pass_s": sum(r["wall_s"] for r in records),
    }
    if tracer:
        out["disk_write_mb"] = (tracer.disk_written() - disk0) / MB
        out["trace_busy_s"] = tracer.busy_s - busy0
    for rec, call, value, raised in results:
        try:
            rec["ok"] = not raised and (call.check is None or bool(call.check(value)))
        except Exception:
            traceback.print_exc(file=log)
            rec["ok"] = False
    sweep(spark, gc=True)
    return out


def tail(passes: list[dict]) -> tuple[float, str, int]:
    """(latency, what it is, samples): the latency at the highest percentile
    with TAIL_BEYOND samples beyond it, when that is p90 or above.  A run
    with fewer samples reports its slowest call instead, as that call's
    median over the passes, so one slow pass cannot set the figure."""
    lat = sorted(c["wall_s"] for p in passes for c in p["calls"])
    n = len(lat)
    rank = n - 1 - TAIL_BEYOND
    if n > 1 and rank / (n - 1) >= 0.9:
        return lat[rank], f"p{100.0 * rank / (n - 1):.1f}", n
    per_call: dict[str, list[float]] = {}
    for p in passes:
        for c in p["calls"]:
            per_call.setdefault(c["name"], []).append(c["wall_s"])
    slowest = max(per_call, key=lambda k: statistics.median(per_call[k]))
    return statistics.median(per_call[slowest]), f"median of {slowest}", n


def layer_metrics(passes: list[dict], tracer, session_s: float, error_lines: int, all_calls: list[dict]) -> dict:
    """Per-layer figures: each is the median over warm passes of its
    per-pass total, except the run totals named below."""

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in passes)

    def total(p, layer=None, field=None, sub=None):
        s = 0.0
        for c in p["calls"]:
            if layer is None or c["layer"] == layer:
                s += c["spark"][sub] if sub else c.get(field, 0.0)
        return s

    def span_s(p, span):
        return sum((c["wall_s"] for c in p["calls"] if c["span"] == span), 0.0)

    def streams(p, fn):
        a, b = p["wall"]
        return fn([e for e in tracer.progress if a <= e["t"] <= b])

    def last_state(events, i):
        last = {}
        for e in events:
            last[e["query"]] = e["state"]
        return sum(s[i] for st in last.values() for s in st)

    m = {
        "session.start_s": session_s,
        "sources.scan_mb": per_pass(lambda p: total(p, sub="scan_mb")),
        "sources.scan_rows": per_pass(lambda p: total(p, sub="scan_rows")),
        "sources.output_mb": per_pass(lambda p: total(p, sub="output_mb")),
        "io.disk_write_mb": per_pass(lambda p: p["disk_write_mb"]),
        "co2.jobs": per_pass(lambda p: total(p, layer="co2", sub="jobs")),
        "ml.jobs": per_pass(lambda p: total(p, layer="ml", sub="jobs")),
        "ml.job_gap_s": per_pass(lambda p: total(p, layer="ml", sub="job_gap_s")),
        "queries.build_s": per_pass(lambda p: total(p, layer="queries", field="build_s")),
        "queries.build_jobs": per_pass(lambda p: total(p, layer="queries", sub="build_jobs")),
        "queries.exec_s": per_pass(
            lambda p: total(p, layer="queries", field="wall_s") - total(p, layer="queries", field="build_s")
        ),
        "queries.jobs": per_pass(lambda p: total(p, layer="queries", sub="jobs")),
        "queries.job_gap_s": per_pass(lambda p: total(p, layer="queries", sub="job_gap_s")),
        "operators.pinned_rdds": per_pass(lambda p: total(p, field="pinned_rdds")),
        "operators.pinned_mb": per_pass(lambda p: total(p, field="pinned_mb")),
        "pyworker.run_s": per_pass(lambda p: total(p, sub="pyworker_run_s")),
        "pyworker.bytes": per_pass(lambda p: total(p, sub="pyworker_bytes")),
        "streaming.batches": per_pass(lambda p: streams(p, len)),
        "streaming.batch_s": per_pass(
            lambda p: streams(p, lambda es: sum(e["ms"].get("triggerExecution", 0) for e in es) / 1e3)
        ),
        "streaming.addbatch_s": per_pass(
            lambda p: streams(p, lambda es: sum(e["ms"].get("addBatch", 0) for e in es) / 1e3)
        ),
        "streaming.wal_commit_s": per_pass(
            lambda p: streams(p, lambda es: sum(e["ms"].get("walCommit", 0) for e in es) / 1e3)
        ),
        "streaming.state_rows": per_pass(lambda p: streams(p, lambda es: last_state(es, 0))),
        "streaming.state_mb": per_pass(lambda p: streams(p, lambda es: last_state(es, 1) / MB)),
    }
    for span in ("co2.load_clean", "co2.analytics", "co2.world_join", "ml.elbow", "ml.fit", "ml.silhouette"):
        m[f"{span}_s"] = per_pass(lambda p, span=span: span_s(p, span))
    for key in ("jobs", "stages", "tasks", "job_busy_s", "job_gap_s", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"spark.{key}"] = per_pass(lambda p, key=key: total(p, sub=key))
    # run totals: a failure anywhere in the run must not be hidden by a median
    m["spark.failed_tasks"] = sum(c["spark"]["failed_tasks"] for c in all_calls)
    m["spark.error_log_lines"] = error_lines
    m["trace.pass_s"] = per_pass(lambda p: p["pass_s"])
    m["trace.overhead_s"] = per_pass(lambda p: p["trace_busy_s"])
    return m


def measure(spark, wl, seed: int, seconds: float, trace: bool, log, session_s: float) -> tuple[dict, dict]:
    """Set up ``wl``, run its cold and warm passes, and return
    (per-call detail, the result object printed as the last line)."""
    from layers import Tracer, attribute, count_error_lines, peak_rss_mb

    ready_s = process_age_s()
    prep = []
    for attempt in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.prepare(attempt)
        prep.append(time.perf_counter() - t)
    setup_s = ready_s + statistics.median(prep)
    wl.build_key()
    tracer = Tracer(spark) if trace else None
    if tracer:
        tracer.listen_streams()

    rng = random.Random(seed)
    cold = run_pass(spark, wl, wl.calls(rng, verify=True), 0, tracer, log)
    warm = []
    t_warm = time.perf_counter()
    while len(warm) < wl.min_warm_passes or time.perf_counter() - t_warm < seconds:
        warm.append(run_pass(spark, wl, wl.calls(rng), len(warm) + 1, tracer, log))
    rss = peak_rss_mb(os.getpid())

    all_calls = [c for p in [cold, *warm] for c in p["calls"]]
    failed = sum(not c["ok"] for c in all_calls)
    lat = [c["wall_s"] for p in warm for c in p["calls"]]
    tail_s, tail_of, n_lat = tail(warm)
    pass_s = statistics.median(p["pass_s"] for p in warm)
    end_to_end = {
        "setup_s": setup_s,
        "cold_pass_s": cold["pass_s"],
        "pass_s": pass_s,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_s,
        "input_mb_per_s": wl.input_bytes() / MB / pass_s,
        "peak_rss_mb": rss,
    }
    detail = {
        "workload": wl.name,
        "seed": seed,
        "cpus": int(spark.sparkContext.defaultParallelism),
        "warm_passes": len(warm),
        "warm_pass_s": [p["pass_s"] for p in warm],
        "setup_prepare_s": prep,
        "input_mb": wl.input_bytes() / MB,
        "tail_of": tail_of,
        "latency_samples": n_lat,
        "fail_ratio": failed / len(all_calls),
        "failed_calls": sorted({c["name"] for c in all_calls if not c["ok"]}),
        "call_median_s": {
            name: statistics.median(c["wall_s"] for p in warm for c in p["calls"] if c["name"] == name)
            for name in sorted({c["name"] for c in warm[0]["calls"]})
        },
    }
    metrics, units = end_to_end, END_TO_END
    if tracer:
        attribute(all_calls, *tracer.stores())
        metrics = layer_metrics(warm, tracer, session_s, count_error_lines(log.name), all_calls)
        units = PER_LAYER
        detail["end_to_end_traced"] = end_to_end
    result = {
        "correct": failed == 0,
        "attempted": len(all_calls),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return detail, result


def bench(args, log) -> tuple[dict, dict]:
    import workloads

    t = time.perf_counter()
    spark = start_session(len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t
    try:
        wl = workloads.make(args.workload, spark, WORK, SF_DIR, args.seed)
        return measure(spark, wl, args.seed, args.seconds, bool(args.trace), log, session_s)
    finally:
        stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(SF_DIR):
        print(f"{PACKAGE}/ must sit next to perfbench/ (run from a checkout root)", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    # the driver JVM inherits fd 2: its log lands in driver.log
    real_err = os.fdopen(os.dup(2), "w")
    log = open(os.path.join(WORK, "driver.log"), "a")
    os.dup2(log.fileno(), 2)
    try:
        detail, result = bench(args, log)
    except Exception:
        traceback.print_exc(file=log)
        log.flush()
        with open(log.name, errors="replace") as f:
            real_err.write("".join(f.readlines()[-60:]))
        return 1
    finally:
        log.flush()
        os.dup2(real_err.fileno(), 2)
    print(json.dumps(detail))
    print(json.dumps(result))
    log.close()
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
