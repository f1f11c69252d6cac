"""Measure auto_salted_join's decision quality (VERDICT r3 #6): on a
skewed key distribution `auto` must track the always-salted join, and
on a uniform distribution it must track the plain join (paying only
the one control-plane skew probe).

Regime: both sides too big to broadcast (autoBroadcastJoinThreshold=-1)
and AQE skew-join handling OFF for the plain/salted/auto rows -- the
non-AQE regime salting exists for (AQE can't split a skewed partition
when the join output feeds a same-key aggregate, and pre-3.0 engines
lack it entirely).  A final `plain+aqe_skew` row runs the plain join
WITH Spark's native skew splitting, documenting the engine's preferred
alternative where it applies.

Each cell is the median of 3 runs into a noop sink.  Output: one JSON
line + SALTED_JOIN_BENCH.json next to this script.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

N_LEFT = 20_000_000
N_KEYS = 100_000
N_RIGHT = 100_000
HOT_SHARE_MOD = 5  # id % 5 != 0 -> hot key: 80% of rows on key 0
ITERS = 3


def main() -> None:
    from big_data_co2_emission_analysis_spark.operators.joins import (
        auto_salted_join,
        salted_join,
    )
    from big_data_co2_emission_analysis_spark.session import get_session

    spark = get_session("bench-salted-join")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # 80% of skewed-left rows pile on key 0; uniform spreads them evenly
    skewed = (
        spark.range(N_LEFT)
        .select(
            F.when(F.col("id") % HOT_SHARE_MOD != 0, F.lit(0))
            .otherwise(F.col("id") % N_KEYS)
            .alias("k"),
            (F.col("id") % 1000).cast("double").alias("lv"),
        )
        .persist()
    )
    uniform = (
        spark.range(N_LEFT)
        .select((F.col("id") % N_KEYS).alias("k"), (F.col("id") % 1000).cast("double").alias("lv"))
        .persist()
    )
    right = (
        spark.range(N_RIGHT)
        .select((F.col("id") % N_KEYS).alias("k"), (F.col("id") % 97).cast("double").alias("rv"))
        .persist()
    )
    skewed.count(), uniform.count(), right.count()  # materialize off the clock
    spark.range(10).join(spark.range(10), "id").write.format("noop").mode("overwrite").save()

    def timed(fn):
        runs = []
        for _ in range(ITERS):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        return statistics.median(runs), runs

    results: dict[str, dict] = {}
    for side_name, left in (("skewed", skewed), ("uniform", uniform)):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        cells = {
            "plain": lambda: left.join(right, on=["k"]),
            "salted": lambda: salted_join(left, right, ["k"], num_salts=64),
            "auto": lambda: auto_salted_join(left, right, ["k"]),
        }
        out = {}
        for name, fn in cells.items():
            med, runs = timed(fn)
            out[name] = {"median_sec": med, "runs": runs}
            print(f"# {side_name}/{name}: {med}s {runs}", file=sys.stderr)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        med, runs = timed(lambda: left.join(right, on=["k"]))
        out["plain+aqe_skew"] = {"median_sec": med, "runs": runs}
        print(f"# {side_name}/plain+aqe_skew: {med}s {runs}", file=sys.stderr)
        results[side_name] = out

    # decision-quality verdicts the PROFILE row quotes
    sk, un = results["skewed"], results["uniform"]
    summary = {
        "auto_vs_salted_on_skew": round(sk["auto"]["median_sec"] / sk["salted"]["median_sec"], 2),
        "auto_vs_plain_on_uniform": round(un["auto"]["median_sec"] / un["plain"]["median_sec"], 2),
        "salting_speedup_on_skew": round(sk["plain"]["median_sec"] / sk["salted"]["median_sec"], 2),
        "probe_overhead_on_uniform_sec": round(
            un["auto"]["median_sec"] - un["plain"]["median_sec"], 3
        ),
        "n_left": N_LEFT,
        "n_keys": N_KEYS,
        "n_right": N_RIGHT,
        "hot_key_share": round(1 - 1 / HOT_SHARE_MOD, 2),
    }
    payload = {"summary": summary, "results": results}
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "SALTED_JOIN_BENCH.json")
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
