"""Fast self-test of the benchmark itself (about a minute, one Spark session).

    python3 perfbench/selftest.py

Checks, at tiny size, that the same seed generates the same CSV, that a
run prints every end-to-end and every per-layer metric with its unit,
and that a deliberately wrong answer is counted as failed, both for the
CO2 answer key and for a registry row's DuckDB oracle.  Exits 1 on the
first check that does not hold.
"""

from __future__ import annotations

import os
import random
import shutil
import sys

import run

sys.path.insert(1, run.ROOT)


def expect(cond: bool, what: str) -> None:
    if not cond:
        print(f"selftest FAILED: {what}", file=sys.stderr)
        sys.exit(1)
    print(f"ok  {what}")


def check_generator() -> None:
    import co2gen

    a = co2gen.to_csv(co2gen.generate(11, 300))
    expect(a == co2gen.to_csv(co2gen.generate(11, 300)), "same seed gives the same CSV")
    expect(a != co2gen.to_csv(co2gen.generate(12, 300)), "another seed gives another CSV")
    lines = a.decode("utf-8").splitlines()
    expect(lines[0].startswith("﻿") and all(line.endswith(",") for line in lines), "BOM and trailing commas")
    key = co2gen.answer_key(co2gen.generate(11, 300))
    expect(key["n_zero_change"] >= 1 and key["n_clean"] < key["n_raw"], "zero changes and null rows planted")
    expect([n for n, _ in key["selected"]] == sorted(co2gen.COMPARISON), "the five comparison countries survive")


def check_runs(spark, log) -> None:
    import workloads

    def tiny(seed):
        return workloads.Co2Pipeline(spark, run.WORK, seed, n_rows=300, ks=range(2, 3))

    _, plain = run.measure(spark, tiny(1), 1, 0, False, log, 0.0)
    expect(plain["correct"] and plain["failed"] == 0, "an untraced tiny run is correct")
    expect(
        {k: v["unit"] for k, v in plain["metrics"].items()} == run.END_TO_END,
        "every end-to-end metric is printed with its unit",
    )
    _, traced = run.measure(spark, tiny(2), 2, 0, True, log, 0.0)
    expect({k: v["unit"] for k, v in traced["metrics"].items()} == run.PER_LAYER,
           "every per-layer metric is printed with its unit")

    bad = tiny(3)
    bad.corrupt()
    _, wrong = run.measure(spark, bad, 3, 0, False, log, 0.0)
    expect(wrong["failed"] > 0 and not wrong["correct"], "a wrong CO2 answer raises the failed count")

    rows = workloads.RegistryRows(spark, "selftest", ("streaming_session_windows",), ("events",), run.SF_DIR)
    (call,) = rows.calls(random.Random(0), verify=True)
    value = call.run()
    expect(call.check(value), "a registry row matches its DuckDB oracle")
    rows.corrupt()
    expect(not call.check(value), "a registry row with a wrong oracle answer is failed")


def main() -> int:
    check_generator()
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run.WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.WORK, "local")
    spark = run.start_session(2)
    try:
        with open(os.path.join(run.WORK, "selftest.log"), "a") as log:
            check_runs(spark, log)
    finally:
        run.stop_session(spark)
        shutil.rmtree(run.WORK, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
