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
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--warmups", type=int, default=1, help="swept throwaway runs before the measured one (0: none)"
    )
    ap.add_argument("name")
    args = ap.parse_args()

    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger, timed, warm_series
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session

    spark = get_session("job_timeline")
    spark.range(1000).selectExpr("sum(id)").collect()
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


if __name__ == "__main__":
    main()
