"""Per-JOB wall-clock timeline of one registry query: run it once
(warm, after a throwaway iteration) and print every Spark job's
stage count, description (its call site when no description is set),
duration and gap since the previous job's completion, read from the
``plans.metrics`` ledger --
the measurement for driver/scheduling-bound queries (guide section 5:
many small sequential jobs leave the cluster idle between them; the
fix is fewer jobs or overlapped jobs, not faster stages).

    python tools/job_timeline.py [--sf SF_DIR] [--warmups N] name

e.g. ``SPARK_GRAFT_CPUS=4 python tools/job_timeline.py --sf
perfbench/data/sf0.01 --warmups 2 bm25_eval_metrics``.

The name ``co2`` instead runs the paper's pipeline: the ``co2_pipeline``
benchmark workload's calls (perfbench/workloads.py, on a table written by
perfbench/co2gen.py, both imported read-only), ``--warmups`` throwaway
passes and then ``--passes`` measured ones under the warm protocol
(``plans.metrics.warm_series``: a sweep before each pass).  It prints every call's median wall time and the
jobs, stages and tasks it ran, and the pass totals:

    SPARK_GRAFT_CPUS=4 python tools/job_timeline.py --warmups 3 --passes 5 co2
    SPARK_GRAFT_CPUS=4 python tools/job_timeline.py --rows 300000 --layout both co2

``--layout both`` forces ``load_clean``'s one-partition gate each way in
alternating passes (the file splits stay Spark's), so both layouts see
the same drift of the host's speed.
"""

from __future__ import annotations

import argparse
import itertools
import random
import statistics
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

#: co2: the generator and call-order seed (the benchmark's first seed)
CO2_SEED = 11


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--warmups", type=int, default=1, help="swept throwaway runs before the measured one (0: none)"
    )
    ap.add_argument("--passes", type=int, default=5, help="co2: measured warm passes")
    ap.add_argument("--rows", type=int, default=None, help="co2: generated rows (default: the benchmark's)")
    ap.add_argument(
        "--layout", choices=("auto", "both"), default="auto",
        help="co2: both = alternate passes between one partition and the file's splits",
    )
    ap.add_argument("name", help="registry row, or co2")
    args = ap.parse_args()

    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger, timed, warm_series
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session

    spark = get_session("job_timeline")
    spark.range(1000).selectExpr("sum(id)").collect()
    if args.name == "co2":
        co2_calls(spark, args)
        return
    qs = all_queries()

    def run() -> None:
        qs[args.name].fn(spark, args.sf).write.format("noop").mode("overwrite").save()

    # compile/JIT off the clock, under bench.py's warm protocol
    warm_series(spark, run, args.warmups)
    wall, jobs, _ = _ledger(spark, lambda: timed(run))

    rows = [
        (
            j["jobId"],
            j["submissionTime"] / 1000.0,
            j["completionTime"] / 1000.0,
            len(j["stageIds"]),
            j.get("description") or j["name"],
        )
        for j in jobs
        if j.get("submissionTime") is not None and j.get("completionTime") is not None
    ]
    if not rows:
        print("no jobs captured", file=sys.stderr)
        return
    t0 = rows[0][1]
    prev_end = None
    total_gap = 0.0
    print(f"# {args.name}: wall={wall:.3f}s, {len(rows)} jobs")
    head = f"{'job':>5} {'start':>8} {'dur_s':>7} {'gap_s':>7} {'stages':>6}"
    print(f"{head}  description")
    for jid, s, c, n_stages, desc in rows:
        gap = 0.0 if prev_end is None else max(0.0, s - prev_end)
        total_gap += gap
        row = f"{jid:>5} {s - t0:>8.3f} {c - s:>7.3f} {gap:>7.3f} {n_stages:>6}"
        print(f"{row}  {desc[:90]}")
        prev_end = c if prev_end is None else max(prev_end, c)
    print(
        f"# sum(job dur)={sum(c - s for _, s, c, _, _ in rows):.3f}s, "
        f"sum(inter-job gaps)={total_gap:.3f}s, "
        f"span={rows[-1][2] - t0:.3f}s"
    )


def co2_calls(spark, args) -> None:
    """Per-call jobs of the ``co2_pipeline`` workload's warm passes."""
    from big_data_co2_emission_analysis_spark.co2 import pipeline as P
    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger, timed, warm_series

    sys.path.insert(0, str(ROOT / "perfbench"))
    import workloads

    layouts = ("one", "splits") if args.layout == "both" else ("auto",)
    # per layout: call name -> [(wall, jobs, stages, tasks)], and pass totals
    calls = {lay: {} for lay in layouts}
    pass_s = {lay: [] for lay in layouts}
    failed = set()

    with tempfile.TemporaryDirectory() as work:
        wl = workloads.Co2Pipeline(spark, work, CO2_SEED, n_rows=args.rows or workloads.CO2_ROWS)
        wl.prepare(0)
        wl.build_key()
        size_mb = wl.input_bytes() / (1 << 20)
        splits = spark.read.text(wl.csv).rdd.getNumPartitions()
        one_partition = {"one": True, "splits": False, "auto": P._one_partition(wl.csv)}
        rng = random.Random(CO2_SEED)
        passes = itertools.cycle(layouts)

        def one_pass() -> None:
            lay = next(passes)
            if lay != "auto":
                P._one_partition = lambda _path, one=one_partition[lay]: one
            total = 0.0
            for call in wl.calls(rng):
                value = []
                wall, jobs, stages = _ledger(spark, lambda: timed(lambda: value.append(call.run())))
                if not call.check(value[0]):
                    failed.add(call.name)
                total += wall
                tasks = sum(s["numTasks"] for s in stages)
                calls[lay].setdefault(call.name, []).append((wall, len(jobs), len(stages), tasks))
            pass_s[lay].append(total)

        # throwaway passes, then the measured ones, each after the warm sweep
        warm_series(spark, one_pass, args.warmups * len(layouts))
        for lay in layouts:
            calls[lay].clear()
            pass_s[lay].clear()
        warm_series(spark, one_pass, args.passes * len(layouts))

    print(f"# co2: {wl.n_rows} rows ({size_mb:.1f} MiB, {splits} file splits), {args.passes} warm passes")
    for lay in layouts:
        print(f"# load_clean layout: {'one partition' if one_partition[lay] else 'file splits'}")
        print(f"{'call':<26} {'wall_s':>7} {'jobs':>5} {'stages':>6} {'tasks':>6}")
        sums = [0, 0, 0]
        for name, runs in calls[lay].items():
            # job, stage and task counts of the last pass; they repeat per pass
            _, n_jobs, n_stages, n_tasks = runs[-1]
            sums = [sums[0] + n_jobs, sums[1] + n_stages, sums[2] + n_tasks]
            print(f"{name:<26} {statistics.median(r[0] for r in runs):>7.3f} {n_jobs:>5} {n_stages:>6} {n_tasks:>6}")
        ps = pass_s[lay]
        print(f"# pass_s median={statistics.median(ps):.3f} [{min(ps):.3f}, {max(ps):.3f}], "
              f"per pass: {sums[0]} jobs, {sums[1]} stages, {sums[2]} tasks")
    if len(layouts) == 2:
        wins = sum(a < b for a, b in zip(pass_s["one"], pass_s["splits"]))
        print(f"# one partition faster in {wins}/{args.passes} adjacent pass pairs")
    if failed:
        print(f"# FAILED checks: {sorted(failed)}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
