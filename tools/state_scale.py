"""State-scale evidence for stream-stream joins: run the LEFT OUTER
interval join to completion at the given fixture under BOTH state-store
providers and print one JSON line of state-operator metrics
(numRowsTotal / memoryUsedBytes / RocksDB custom metrics).

The interesting numbers at scale: total state rows buffered by the join
(both sides' keyed state) and where that state lives -- executor heap
(default HDFS-backed provider) vs RocksDB on local disk with changelog
checkpointing (the 100 TB configuration; see streaming/windows.py
ROCKSDB_STATE_CONFS).

Usage: python tools/state_scale.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from big_data_co2_emission_analysis_spark.session import conf_scope
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        ROCKSDB_STATE_CONFS,
        read_events_stream,
        run_to_completion,
        stream_stream_interval_join_outer,
    )

    def run() -> dict:
        progress: list = []
        t0 = time.time()
        res = run_to_completion(
            stream_stream_interval_join_outer(read_events_stream(spark, sf_dir)),
            "append",
            progress_out=progress,
        )
        n = res.count()
        wall = round(time.time() - t0, 2)
        res.unpersist()
        # peak state sits in the data batches BEFORE watermark eviction;
        # the final (no-data) batch reports near-empty stores
        peak: dict = {}
        final: dict = {}
        for p in progress:
            for op in p.get("stateOperators", []):
                name = op.get("operatorName")
                if (op.get("numRowsTotal") or 0) >= (peak.get(name, {}).get("numRowsTotal") or 0):
                    peak[name] = op
                final[name] = op

        def shape(op: dict) -> dict:
            return {
                "numRowsTotal": op.get("numRowsTotal"),
                "memoryUsedBytes": op.get("memoryUsedBytes"),
                "custom": {
                    k: v
                    for k, v in (op.get("customMetrics") or {}).items()
                    if v and ("emory" in k or "SstFile" in k or "Bytes" in k)
                },
            }

        return {
            "rows": n,
            "wall_s": wall,
            "n_batches": len(progress),
            "state_operators": [
                {"operator": name, "peak": shape(peak[name]), "final": shape(final[name])}
                for name in peak
            ],
        }

    out = {"sf_dir": sf_dir, "providers": {}}
    out["providers"]["hdfs_backed_default"] = run()
    with conf_scope(spark, ROCKSDB_STATE_CONFS):
        out["providers"]["rocksdb_changelog"] = run()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
