"""Run the full CO2 pipeline — the reference's entire workload
(Mayurwaghela1997/Big_Data_CO2_Emission_Analysis project-co2.py:79-228)
reproduced on this engine, printing the same analyses:

    python examples/co2_demo.py [path/to/co2-dataset-edited.csv]

Differences from the reference, on purpose (SURVEY.md section 2.13):
the num_increased copy-paste bug is fixed, change = 2014 - 2004 (the
primary script's sign), the cluster-label Python UDF is a native
expression, and the lineage is cached instead of re-executed per
action.  The geo join itself (reference project-co2.py:137-147) runs
IN SPARK against the engine's world dimension (co2/world_dim.py) with
the reference's four ISO-code patches, and all five reference figures
(S7: elbow, cluster scatter, three choropleths) are rendered to
examples/figures/*.bmp by the engine's own rasterizer
(sources/figures.py) -- no matplotlib/geopandas needed.
"""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from big_data_co2_emission_analysis_spark.co2.pipeline import (
        REFERENCE_CSV,
        load_clean,
        run_pipeline,
        selected_countries,
        top_emitters,
        top_increasers,
        top_reducers,
    )
    from big_data_co2_emission_analysis_spark.session import get_session

    csv_path = sys.argv[1] if len(sys.argv) > 1 else REFERENCE_CSV
    spark = get_session("co2-demo")

    res = run_pipeline(spark, csv_path)
    print(f"rows: {res.n_raw} raw -> {res.n_clean} clean")
    print(f"reduced: {res.n_reduced}  increased: {res.n_increased}")
    print(
        f"sum(change): reduced {res.sum_reduced:+.4f}  "
        f"increased {res.sum_increased:+.4f}  total {res.sum_total:+.4f}"
    )
    print(f"silhouette (k=5, seed=1): {res.silhouette:.4f}")
    print("cluster ranges (native label expression):")
    res.cluster_ranges.show(truncate=False)

    clean = load_clean(spark, csv_path)
    for title, df in [
        ("top-3 emitters 2014", top_emitters(clean, "2014")),
        ("bottom-3 emitters 2014", top_emitters(clean, "2014", lowest=True)),
        ("top-3 emitters 2004", top_emitters(clean, "2004")),
        ("top-3 reducers", top_reducers(clean)),
        ("top-3 increasers", top_increasers(clean)),
        ("selected countries", selected_countries(clean)),
    ]:
        print(f"-- {title}")
        df.show(truncate=False)

    # the reference's world_with_cluster (project-co2.py:146-147):
    # patched-dim LEFT join, unmatched countries null (grey on its map)
    from big_data_co2_emission_analysis_spark.co2.pipeline import world_join

    world = world_join(
        res.assigned.select("Country Code", "change", "isReduced", "cluster"),
        spark,
        value_cols=("change", "isReduced", "cluster"),
    ).cache()
    n_matched = world.filter("change IS NOT NULL").count()
    print(f"-- world_with_cluster: {n_matched} matched, {177 - n_matched} grey (no data)")
    world.orderBy("iso_a3", "name").show(10, truncate=False)

    # S7 figure sink: the reference's five matplotlib PNGs
    # (project-co2.py:55,126,155,168,177), rendered by the engine's own
    # pure-numpy rasterizer + BMP codec.  Inputs are the already-reduced
    # results above -- tiny driver-side collects, as a figure sink must be.
    import os

    from big_data_co2_emission_analysis_spark.ml.clustering import elbow_sweep
    from big_data_co2_emission_analysis_spark.sources.figures import (
        fig_choropleth_dual,
        fig_choropleth_tiles,
        fig_elbow,
        fig_scatter,
    )

    figdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "figures")
    sweep = elbow_sweep(res.assigned, ks=range(2, 10), sample_fraction=None)
    fig_elbow([p.k for p in sweep], [p.cost for p in sweep], f"{figdir}/bestK.bmp")

    pts = res.assigned.select("change", "cluster").collect()
    fig_scatter(
        [r["change"] for r in pts],
        [r["change"] for r in pts],  # the reference scatters x vs x (ref :125)
        [r["cluster"] for r in pts],
        f"{figdir}/clustering_values.bmp",
    )

    wrows = world.select("iso_a3", "change", "isReduced", "cluster").collect()
    fig_choropleth_tiles(
        [(r["iso_a3"], r["change"]) for r in wrows], f"{figdir}/co2_change.bmp"
    )
    fig_choropleth_tiles(
        [(r["iso_a3"], r["cluster"]) for r in wrows],
        f"{figdir}/co2_clusters.bmp",
        categorical=True,
    )
    fig_choropleth_dual(
        [(r["iso_a3"], r["change"], r["isReduced"]) for r in wrows],
        f"{figdir}/co2_improvement.bmp",
    )
    print(f"-- figures written to {figdir}: bestK, clustering_values, "
          "co2_change, co2_clusters, co2_improvement (.bmp)")

    spark.stop()


if __name__ == "__main__":
    main()
