"""Isolated re-measure of named registry queries under the quartiles
protocol (PROFILE.md "Root cause" sections): fresh JVM, N warm
iterations per query with ``session.release_pinned`` between each,
reporting the full series, the median, and one byte-metrics pass
(scan/shuffle/spill) so a drift in wall-clock can be separated from a
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
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=7)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics_all_jobs
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session, release_pinned

    spark = get_session("isolate")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up
    qs = all_queries()

    def sweep() -> int:
        n = release_pinned(spark)
        # match bench.py's protocol: force a JVM GC so the
        # ContextCleaner releases dead shuffle state promptly
        # (see bench.py for the measured creep this prevents)
        spark._jvm.System.gc()
        return n

    for name in args.names:
        fn = qs[name].fn
        fn(spark, args.sf).collect()  # warm: footers, codegen, caches built
        series = []
        for _ in range(args.iters):
            resid = sweep()
            t0 = time.monotonic()
            fn(spark, args.sf).collect()
            series.append(round(time.monotonic() - t0, 3))
            if resid:
                print(f"  (swept {resid} persistent RDDs pre-iteration)")
        sweep()
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
