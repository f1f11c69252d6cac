"""Measure the SemDeDup large-k scale path (VERDICT r5 #1) across
scale factors: per-sf warm runtimes for ``semdedup_pairs_bigk`` plus
the cluster-population stats and the spill/shuffle evidence that the
sqrt(N) quantizer keeps the pair search real (0 skipped clusters) and
in-memory (0 spill).

    python tools/scale_semdedup_bigk.py [sf_dir ...]

Defaults to sf0.1 / fixtures/sf1.0 / fixtures/sf10.  Spill metrics come
from walking the executed plan of a count-wrapped run (the full pair
pipeline executes beneath the count; collecting 45M pair rows to the
driver just to read stage metrics would measure the driver, not the
engine).
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics, warm_series
    from big_data_co2_emission_analysis_spark.queries import mlops
    from big_data_co2_emission_analysis_spark.session import get_session

    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        str(ROOT / "fixtures" / "sf1.0"),
        str(ROOT / "fixtures" / "sf10"),
    ]
    spark = get_session("scale-semdedup-bigk")
    for sf_dir in sf_dirs:
        # build-once warm-up (quantizer + det-kmeans caches), off the clock
        mlops._bigk_assignments(spark, sf_dir)
        stats = mlops.semdedup_bigk_cluster_stats(spark, sf_dir).collect()[0]
        iters = warm_series(
            spark,
            lambda: mlops.semdedup_pairs_bigk(spark, sf_dir).write.format("noop").mode("overwrite").save(),
            3,
        )
        med = statistics.median(iters)
        m = collect_metrics(
            mlops.semdedup_pairs_bigk(spark, sf_dir).agg(
                F.count(F.lit(1)).alias("n_pairs")
            )
        )
        n_pairs = mlops.semdedup_pairs_bigk(spark, sf_dir).agg(
            F.count(F.lit(1))
        ).collect()[0][0]
        print(
            f"{sf_dir}: median={med}s iters={iters} pairs={n_pairs} "
            f"clusters={stats.n_clusters} skipped={stats.n_skipped_clusters} "
            f"max_cluster={stats.max_cluster} "
            f"candidate_pairs={stats.candidate_pairs} "
            f"spill_bytes={m.get('spill_bytes', 0)} "
            f"shuffle_read={m.get('shuffle_bytes_read', 0)} "
            f"shuffle_write={m.get('shuffle_bytes_written', 0)}",
            flush=True,
        )


if __name__ == "__main__":
    main()
