"""Materialize the world_dim fixture parquet (FIXTURES.md A3) from the
static table in co2/world_dim.py.  One file, coalesced -- it's a
177-row dimension.  Rerun after editing WORLD_DIM."""

import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from big_data_co2_emission_analysis_spark.co2.world_dim import FIXTURE_PATH, world_dim_df
    from big_data_co2_emission_analysis_spark.session import get_session

    spark = get_session("gen-world-dim")
    tmp = FIXTURE_PATH + ".tmpdir"
    world_dim_df(spark).coalesce(1).write.mode("overwrite").parquet(tmp)
    # single flat .parquet file (DuckDB + spark.read both accept it)
    part = next(
        p for p in Path(tmp).iterdir() if p.name.endswith(".parquet")
    )
    shutil.move(str(part), FIXTURE_PATH)
    shutil.rmtree(tmp)
    print(f"wrote {FIXTURE_PATH}")


if __name__ == "__main__":
    main()
