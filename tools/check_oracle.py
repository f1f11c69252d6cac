"""Local stand-in for the driver's correctness gate.

Runs every registered query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, and
order-insensitive values (exact for ints/strings/bools, bit-exact for
floats by default -- the strictest plausible driver hash).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    import duckdb

    from big_data_co2_emission_analysis_spark.queries import all_queries
    from big_data_co2_emission_analysis_spark.session import get_session, release_pinned

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = all_queries()
    n_pass = n_fail = n_rows_only = 0
    for name, qd in sorted(qs.items()):
        if only and name not in only:
            continue
        release_pinned(spark)
        t0 = time.time()
        try:
            sdf = qd.fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if qd.oracle is None:
            print(f"rows-only {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            ddf = con.sql(qd.oracle)
            dcols = ddf.columns
            drows = [dict(zip(dcols, r)) for r in ddf.fetchall()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        if sorted(dcols) != cols:
            print(f"FAIL {name}: columns spark={cols} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            cs, cd = canon(srows, cols), canon(drows, cols)
            if cs != cd:
                diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs:")
                for a, b in diffs:
                    print(f"   spark={a}\n   duck ={b}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
