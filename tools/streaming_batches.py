"""Per-batch work attribution for the two streaming bench rows
(VERDICT r11 #5): their sf0.1 headline cost is dominated by fixed
micro-batch scheduling/checkpoint overhead, which would mask a real
per-batch work regression as the corpus grows.  This tool runs
``streaming_interval_join`` and ``streaming_incremental_dedup_bloom``
once each and prints ONE JSON line per query:

- ``batches``: per-batch executor work (run ms / cpu ns / scan /
  shuffle / spill, summed over the stages of jobs whose description
  carries that batch id; batch -1 = untagged work -- source listing,
  manifest maintenance, result collection), via
  ``plans.metrics.collect_metrics_per_batch``.
- ``progress``: per-batch StreamingQueryProgress essentials
  (numInputRows + the durationMs breakdown: addBatch / triggerExecution
  / commitOffsets / walCommit / queryPlanning / getBatch / latestOffset)
  so engine-side work and driver-side scheduling can be separated.

The committed baseline lives in STREAMING_BATCHES.json; re-run and
diff it next round.

Usage: python tools/streaming_batches.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from big_data_co2_emission_analysis_spark.plans.metrics import (
        collect_metrics_per_batch,
    )
    from big_data_co2_emission_analysis_spark.queries.streaming_queries import (
        streaming_incremental_dedup_bloom,
        streaming_interval_join,
    )
    from big_data_co2_emission_analysis_spark.session import get_session, release_pinned

    spark = get_session("streaming-batches")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warm-up

    for name, fn in (
        ("streaming_interval_join", streaming_interval_join),
        ("streaming_incremental_dedup_bloom", streaming_incremental_dedup_bloom),
    ):
        progress: list = []

        def thunk():
            t0 = time.monotonic()
            df = fn(spark, sf_dir, progress_out=progress)
            n = len(df.collect())
            return {"rows": n, "wall_s": round(time.monotonic() - t0, 2)}

        head, batches = collect_metrics_per_batch(thunk, spark)
        prog_rows = []
        for p in progress:
            dur = p.get("durationMs") or {}
            prog_rows.append(
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": {
                        k: dur.get(k)
                        for k in (
                            "addBatch",
                            "triggerExecution",
                            "commitOffsets",
                            "walCommit",
                            "queryPlanning",
                            "getBatch",
                            "latestOffset",
                        )
                        if dur.get(k) is not None
                    },
                }
            )
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    **head,
                    "n_batches": len(prog_rows),
                    "batches": {str(k): v for k, v in sorted(batches.items())},
                    "progress": prog_rows,
                }
            )
        )
        # release the memory-sink table + localCheckpoint blocks
        release_pinned(spark)

    spark.stop()


if __name__ == "__main__":
    main()
