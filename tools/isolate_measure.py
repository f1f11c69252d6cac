"""Isolated re-measure of named registry queries under the quartiles
protocol (PROFILE.md "Root cause" sections): fresh JVM, N warm
iterations per query under ``plans.metrics.warm_series`` (a sweep --
``session.release_pinned`` plus a JVM GC -- before each), reporting
the full series, the median, and one byte-metrics pass (scan/shuffle/
spill) so a drift in wall-clock can be separated from a
drift in work done.

    python tools/isolate_measure.py [--sf /root/testdata/sf0.1]
        [--iters 7] name [name ...]

Used for VERDICT watch items: a flat series + byte metrics matching the
committed PROFILE.md row means session-environment variance, not a plan
regression.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=7)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from big_data_co2_emission_analysis_spark.plans.metrics import (
        collect_metrics_all_jobs,
        warm_series,
    )
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session

    spark = get_session("isolate")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
    qs = all_queries()

    for name in args.names:
        fn = qs[name].fn
        fn(spark, args.sf).collect()  # warm: footers, codegen, caches built
        series = warm_series(spark, lambda: fn(spark, args.sf).collect(), args.iters)
        m = collect_metrics_all_jobs(lambda: fn(spark, args.sf), spark=spark)
        print(json.dumps({
            "query": name,
            "series_s": series,
            "median_s": round(statistics.median(series), 3),
            "metrics": {k: v for k, v in sorted(m.items())},
        }))

    spark.stop()


if __name__ == "__main__":
    main()
