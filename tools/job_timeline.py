"""Per-JOB wall-clock timeline of one registry query: run it once
(warm, after a throwaway iteration) and print every Spark job's
stage count, description (its call site when no description is set),
duration and gap since the previous job's completion --
the measurement for driver/scheduling-bound queries (guide section 5:
many small sequential jobs leave the cluster idle between them; the
fix is fewer jobs or overlapped jobs, not faster stages).

    python tools/job_timeline.py [--sf SF_DIR] [--warmups N] [--no-warm] name

e.g. ``SPARK_GRAFT_CPUS=4 python tools/job_timeline.py --sf
perfbench/data/sf0.01 --warmups 2 bm25_eval_metrics``.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--no-warm", action="store_true", help="skip the throwaway run")
    ap.add_argument("--warmups", type=int, default=1, help="throwaway runs before the measured one")
    ap.add_argument("name")
    args = ap.parse_args()

    from big_data_co2_emission_analysis_spark.plans.metrics import _drain_listener_bus
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session, release_pinned

    spark = get_session("job_timeline")
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = all_queries()

    def run() -> float:
        t0 = time.perf_counter()
        df = qs[args.name].fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    if not args.no_warm:
        for _ in range(max(1, args.warmups)):
            run()  # compile/JIT off the clock, matching bench warm iterations
            release_pinned(spark)

    _drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark._jvm
    before = {
        int(j.jobId())
        for j in _iter(store.jobsList(jvm.java.util.ArrayList()))
    }
    wall = run()
    _drain_listener_bus(spark)

    rows = []
    for j in _iter(store.jobsList(jvm.java.util.ArrayList())):
        if int(j.jobId()) in before:
            continue
        sub = j.submissionTime()
        comp = j.completionTime()
        if not sub.isDefined() or not comp.isDefined():
            continue
        desc = j.description()
        desc = str(desc.get()) if desc.isDefined() else ""
        t_sub = sub.get().getTime() / 1000.0
        t_comp = comp.get().getTime() / 1000.0
        n_stages = int(j.stageIds().size())
        rows.append((int(j.jobId()), t_sub, t_comp, n_stages, desc or str(j.name())))
    rows.sort()
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


def _iter(jlist):
    it = jlist.iterator()
    while it.hasNext():
        yield it.next()


if __name__ == "__main__":
    main()
