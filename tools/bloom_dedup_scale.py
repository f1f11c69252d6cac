"""Bloom-manifest streaming dedup: measure the exact-vs-bloom curve
as the MANIFEST outgrows the batch (VERDICT r6 #1: the steady-state
claim "join cost tracks the true-duplicate rate, not batch size" was
unmeasured, and at fixture scale bloom ran 2.2x SLOWER).

Setup per scale point: a corpus manifest of M fingerprints (built
honestly through ``incremental_dedup_batch`` batch 0, which also
publishes the cumulative Bloom snapshot), then ONE steady-state batch
of B documents with a planted true-duplicate rate, timed under
``bloom_bits=None`` (exact twin: the manifest fingerprint column is
hash-partitioned for the join every batch) and ``bloom_bits=m``
(r7 plan: one within-batch window exchange + broadcast-confirm -- the
manifest is scanned, never shuffled; snapshot delta built by the
shuffle-free sparse builder).  The timed batch is a replay of the same
batch_id, so repeated runs see identical manifest state
(``batch_id < N`` read exclusion) and outputs are idempotent.

Sweep: M/B in {1, 10, 100} at B=50_000.  Output: one JSON line with
per-point medians + the survivors' count equality check (bloom must
match exact).

Usage: python tools/bloom_dedup_scale.py [--batch 50000] [--dup 0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batch", type=int, default=50_000)
    ap.add_argument("--dup", type=float, default=0.1)
    ap.add_argument("--ratios", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from big_data_co2_emission_analysis_spark.plans.metrics import _ledger, timed
    from big_data_co2_emission_analysis_spark.streaming.windows import (
        incremental_dedup_batch,
    )

    B = args.batch
    points = []
    for ratio in args.ratios:
        M = B * ratio
        m_bits = 1 << max(14, (10 * (M + B) - 1).bit_length())
        work = tempfile.mkdtemp(prefix=f"bloom_scale_r{ratio}_")
        try:
            # corpus batch 0: M unique docs -> manifest + snapshot
            corpus = (
                spark.range(M)
                .select(
                    F.col("id").alias("doc_id"),
                    F.format_string(
                        "corpus document %d body text with some repeated words %d",
                        "id", "id",
                    ).alias("text"),
                )
                .repartition(int(cpus))
            )
            manifest = os.path.join(work, "manifest")
            out = os.path.join(work, "out")
            incremental_dedup_batch(
                corpus, 0, manifest, out, bloom_bits=m_bits
            )

            # steady-state batch 1: B docs, args.dup of them duplicates
            # of corpus docs (hash-spread picks), the rest brand new
            n_dup = int(B * args.dup)
            dups = (
                spark.range(n_dup)
                .select(
                    (F.lit(M) + F.col("id")).alias("doc_id"),
                    F.format_string(
                        "corpus document %d body text with some repeated words %d",
                        (F.pmod(F.xxhash64("id"), F.lit(M))).alias("pick"),
                        (F.pmod(F.xxhash64("id"), F.lit(M))).alias("pick2"),
                    ).alias("text"),
                )
            )
            fresh = (
                spark.range(B - n_dup)
                .select(
                    (F.lit(M + n_dup) + F.col("id")).alias("doc_id"),
                    F.format_string(
                        "novel document %d entirely new content stream %d",
                        "id", "id",
                    ).alias("text"),
                )
            )
            batch = dups.unionByName(fresh).repartition(int(cpus))
            batch.persist().count()  # take source generation out of the timing

            variants = (
                ("exact", {"bloom_bits": None}),
                ("bcast", {"bloom_bits": None, "confirm": "broadcast"}),
                ("bloom", {"bloom_bits": m_bits}),
            )
            timings: dict[str, list[float]] = {n: [] for n, _ in variants}
            shuffle_b: dict[str, list[int]] = {n: [] for n, _ in variants}
            counts: dict[str, int] = {}
            for rep in range(args.reps):
                for label, kw in variants:
                    # shuffle BYTES, not local wall-clock, are the
                    # cluster-scale cost: each one crosses the network
                    sec, _, stages = _ledger(
                        spark, lambda: timed(lambda: incremental_dedup_batch(batch, 1, manifest, out, **kw))
                    )
                    timings[label].append(sec)
                    shuffle_b[label].append(sum(s["shuffleWriteBytes"] for s in stages))
                    counts[label] = (
                        spark.read.parquet(out)
                        .filter(F.col("batch_id") == 1)
                        .count()
                    )
            batch.unpersist()
            assert len(set(counts.values())) == 1, counts
            point = {
                "manifest_rows": M,
                "batch_rows": B,
                "ratio": ratio,
                "bloom_bits": m_bits,
                "dup_rate": args.dup,
                "survivors": counts["exact"],
            }
            for label, _ in variants:
                point[f"{label}_sec"] = round(statistics.median(timings[label]), 3)
                point[f"{label}_all"] = timings[label]
                point[f"{label}_shuffle_mb"] = round(statistics.median(shuffle_b[label]) / 1e6, 2)
            points.append(point)
            print(json.dumps(points[-1]), flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"metric": "bloom_dedup_scale", "points": points}))


if __name__ == "__main__":
    main()
