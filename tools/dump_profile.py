"""Regenerate PROFILE.md: measured runtime metrics per headline query
at sf0.1 -- rows/bytes scanned, shuffle read/written, spill -- the
quantitative companion to PLANS.md's plan shapes.  A plan that LOOKS
right can still move too much data; this table is where that would
show (shuffle write >> scan for a map-only query, nonzero spill,
scan bytes that ignore pruning).

    python tools/dump_profile.py [sf_dir] [out_path]

Default output is PROFILE.md (sf0.1); pass an explicit out_path to
profile another scale without clobbering it (e.g. PROFILE_SF1.md).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def fmt_bytes(n: int) -> str:
    if n >= 1 << 30:
        return f"{n / (1 << 30):.2f} GiB"
    if n >= 1 << 20:
        return f"{n / (1 << 20):.2f} MiB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KiB"
    return str(n)


def main() -> None:
    from bench import HEADLINE

    from big_data_co2_emission_analysis_spark.plans.metrics import collect_metrics_all_jobs, sweep
    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.queries.advanced import (
        ensure_bucketed_tables,
        ensure_partitioned_orders,
    )
    from big_data_co2_emission_analysis_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else str(ROOT / "PROFILE.md")
    spark = get_session("profile")
    ensure_bucketed_tables(spark, sf_dir)
    ensure_partitioned_orders(spark, sf_dir)
    qs = all_queries()

    rows = []
    for name in HEADLINE:
        t0 = time.perf_counter()
        m = collect_metrics_all_jobs(lambda: qs[name].fn(spark, sf_dir), spark=spark)
        sec = time.perf_counter() - t0
        rows.append((name, sec, m))
        sweep(spark)
        print(f"# {name}: {sec:.2f}s {m}", file=sys.stderr)

    out = [
        "# PROFILE — measured runtime metrics of the headline queries",
        "",
        f"Generated by `python tools/dump_profile.py` at `{sf_dir}`.",
        "Each row is one full COLD execution (includes Catalyst analysis +",
        "codegen compile; see BENCH_r*.json for warm timings — the bytes/rows",
        "columns, the point of this file, are identical either way).",
        "Metrics are summed over EVERY stage the action ran (stage ids read",
        "in-process from Spark's status store — the r10 attribution fix), so",
        "jobs behind localCheckpoint/persist materializations are counted:",
        "`scan rows/bytes` are executor INPUT totals (file reads + cached-",
        "block re-reads), shuffle columns are stage shuffle bytes — so",
        "`shuffle write << scan bytes` demonstrates map-side reduction, and",
        "a pure-map query shows zero shuffle. Spill must be 0 at this",
        "scale; a nonzero value means partitions outgrew executor memory.",
        "",
        "| query | sec | scan rows | scan bytes | shuffle write | shuffle read | spill | result rows |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, sec, m in rows:
        out.append(
            f"| {name} | {sec:.2f} | {m.get('output_rows_scan', 0):,} "
            f"| {fmt_bytes(m.get('bytes_scanned', 0))} "
            f"| {fmt_bytes(m.get('shuffle_bytes_written', 0))} "
            f"| {fmt_bytes(m.get('shuffle_bytes_read', 0))} "
            f"| {fmt_bytes(m.get('spill_bytes', 0))} "
            f"| {m.get('n_rows', 0):,} |"
        )
    out.append("")
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {out_path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
