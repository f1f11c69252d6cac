"""The reference's geo join dimension, Spark-first.

The reference joins its per-country results to GeoPandas'
``naturalearth_lowres`` world table keyed on ``iso_a3``
(reference project-co2.py:137-147): it first patches four country
codes the upstream dataset ships as ``-99`` (France, Norway,
Somaliland, Kosovo -- see geopandas issue #1041, cited by the
reference itself), then does a **left** join that preserves every
world row; countries with no CO2 data come out null (rendered grey).

GeoPandas isn't available here (and a plotting library isn't a query
capability), so this module carries the dimension as data: a static
177-row (iso_a3, name, continent, pop_est) table with the same shape
and the same ``-99`` quirks as ``naturalearth_lowres`` (including
N. Cyprus, which the reference does NOT patch), written to a parquet
fixture by tools/gen_world_dim.py.  ``apply_iso_patches`` reproduces
the reference's four fixes; the join itself is a broadcast left join
(the per-country aggregate is the small, non-preserved side).

Population figures are rough public estimates -- the column exists as
a numeric dim attribute for grouped-agg-after-join queries, nothing
downstream depends on exact values.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import arrow_transfer

FIXTURE_PATH = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures", "world_dim.parquet")
)

# (iso_a3, name, continent, pop_est) -- naturalearth_lowres shape.
# The five '-99' codes are the upstream data bug the reference works
# around (it patches four; N. Cyprus stays broken, faithfully).
WORLD_DIM: list[tuple[str, str, str, float]] = [
    ("FJI", "Fiji", "Oceania", 920_938.0),
    ("TZA", "Tanzania", "Africa", 53_950_935.0),
    ("ESH", "W. Sahara", "Africa", 603_253.0),
    ("CAN", "Canada", "North America", 35_623_680.0),
    ("USA", "United States of America", "North America", 326_625_791.0),
    ("KAZ", "Kazakhstan", "Asia", 18_556_698.0),
    ("UZB", "Uzbekistan", "Asia", 29_748_859.0),
    ("PNG", "Papua New Guinea", "Oceania", 6_909_701.0),
    ("IDN", "Indonesia", "Asia", 260_580_739.0),
    ("ARG", "Argentina", "South America", 44_293_293.0),
    ("CHL", "Chile", "South America", 17_789_267.0),
    ("COD", "Dem. Rep. Congo", "Africa", 83_301_151.0),
    ("SOM", "Somalia", "Africa", 7_531_386.0),
    ("KEN", "Kenya", "Africa", 47_615_739.0),
    ("SDN", "Sudan", "Africa", 37_345_935.0),
    ("TCD", "Chad", "Africa", 12_075_985.0),
    ("HTI", "Haiti", "North America", 10_646_714.0),
    ("DOM", "Dominican Rep.", "North America", 10_734_247.0),
    ("RUS", "Russia", "Europe", 142_257_519.0),
    ("BHS", "Bahamas", "North America", 329_988.0),
    ("FLK", "Falkland Is.", "South America", 2_931.0),
    ("-99", "Norway", "Europe", 5_320_045.0),
    ("GRL", "Greenland", "North America", 57_713.0),
    ("ATF", "Fr. S. Antarctic Lands", "Seven seas (open ocean)", 140.0),
    ("TLS", "Timor-Leste", "Asia", 1_291_358.0),
    ("ZAF", "South Africa", "Africa", 54_841_552.0),
    ("LSO", "Lesotho", "Africa", 1_958_042.0),
    ("MEX", "Mexico", "North America", 124_574_795.0),
    ("URY", "Uruguay", "South America", 3_360_148.0),
    ("BRA", "Brazil", "South America", 207_353_391.0),
    ("BOL", "Bolivia", "South America", 11_138_234.0),
    ("PER", "Peru", "South America", 31_036_656.0),
    ("COL", "Colombia", "South America", 47_698_524.0),
    ("PAN", "Panama", "North America", 3_753_142.0),
    ("CRI", "Costa Rica", "North America", 4_930_258.0),
    ("NIC", "Nicaragua", "North America", 6_025_951.0),
    ("HND", "Honduras", "North America", 9_038_741.0),
    ("SLV", "El Salvador", "North America", 6_172_011.0),
    ("GTM", "Guatemala", "North America", 15_460_732.0),
    ("BLZ", "Belize", "North America", 360_346.0),
    ("VEN", "Venezuela", "South America", 31_304_016.0),
    ("GUY", "Guyana", "South America", 737_718.0),
    ("SUR", "Suriname", "South America", 591_919.0),
    ("-99", "France", "Europe", 67_106_161.0),
    ("ECU", "Ecuador", "South America", 16_290_913.0),
    ("PRI", "Puerto Rico", "North America", 3_351_827.0),
    ("JAM", "Jamaica", "North America", 2_990_561.0),
    ("CUB", "Cuba", "North America", 11_147_407.0),
    ("ZWE", "Zimbabwe", "Africa", 13_805_084.0),
    ("BWA", "Botswana", "Africa", 2_214_858.0),
    ("NAM", "Namibia", "Africa", 2_484_780.0),
    ("SEN", "Senegal", "Africa", 14_668_522.0),
    ("MLI", "Mali", "Africa", 17_885_245.0),
    ("MRT", "Mauritania", "Africa", 3_758_571.0),
    ("BEN", "Benin", "Africa", 11_038_805.0),
    ("NER", "Niger", "Africa", 19_245_344.0),
    ("NGA", "Nigeria", "Africa", 190_632_261.0),
    ("CMR", "Cameroon", "Africa", 24_994_885.0),
    ("TGO", "Togo", "Africa", 7_965_055.0),
    ("GHA", "Ghana", "Africa", 27_499_924.0),
    ("CIV", "Côte d'Ivoire", "Africa", 24_184_810.0),
    ("GIN", "Guinea", "Africa", 12_413_867.0),
    ("GNB", "Guinea-Bissau", "Africa", 1_792_338.0),
    ("LBR", "Liberia", "Africa", 4_689_021.0),
    ("SLE", "Sierra Leone", "Africa", 6_163_195.0),
    ("BFA", "Burkina Faso", "Africa", 20_107_509.0),
    ("CAF", "Central African Rep.", "Africa", 5_625_118.0),
    ("COG", "Congo", "Africa", 4_954_674.0),
    ("GAB", "Gabon", "Africa", 1_772_255.0),
    ("GNQ", "Eq. Guinea", "Africa", 778_358.0),
    ("ZMB", "Zambia", "Africa", 15_972_000.0),
    ("MWI", "Malawi", "Africa", 19_196_246.0),
    ("MOZ", "Mozambique", "Africa", 26_573_706.0),
    ("SWZ", "eSwatini", "Africa", 1_467_152.0),
    ("AGO", "Angola", "Africa", 29_310_273.0),
    ("BDI", "Burundi", "Africa", 11_466_756.0),
    ("ISR", "Israel", "Asia", 8_299_706.0),
    ("LBN", "Lebanon", "Asia", 6_229_794.0),
    ("MDG", "Madagascar", "Africa", 25_054_161.0),
    ("PSE", "Palestine", "Asia", 4_920_724.0),
    ("GMB", "Gambia", "Africa", 2_051_363.0),
    ("TUN", "Tunisia", "Africa", 11_403_800.0),
    ("DZA", "Algeria", "Africa", 40_969_443.0),
    ("JOR", "Jordan", "Asia", 10_248_069.0),
    ("ARE", "United Arab Emirates", "Asia", 6_072_475.0),
    ("QAT", "Qatar", "Asia", 2_314_307.0),
    ("KWT", "Kuwait", "Asia", 2_875_422.0),
    ("IRQ", "Iraq", "Asia", 39_192_111.0),
    ("OMN", "Oman", "Asia", 3_424_386.0),
    ("VUT", "Vanuatu", "Oceania", 282_814.0),
    ("KHM", "Cambodia", "Asia", 16_204_486.0),
    ("THA", "Thailand", "Asia", 68_414_135.0),
    ("LAO", "Laos", "Asia", 7_126_706.0),
    ("MMR", "Myanmar", "Asia", 55_123_814.0),
    ("VNM", "Vietnam", "Asia", 96_160_163.0),
    ("PRK", "North Korea", "Asia", 25_248_140.0),
    ("KOR", "South Korea", "Asia", 51_181_299.0),
    ("MNG", "Mongolia", "Asia", 3_068_243.0),
    ("IND", "India", "Asia", 1_281_935_911.0),
    ("BGD", "Bangladesh", "Asia", 157_826_578.0),
    ("BTN", "Bhutan", "Asia", 758_288.0),
    ("NPL", "Nepal", "Asia", 29_384_297.0),
    ("PAK", "Pakistan", "Asia", 204_924_861.0),
    ("AFG", "Afghanistan", "Asia", 34_124_811.0),
    ("TJK", "Tajikistan", "Asia", 8_468_555.0),
    ("KGZ", "Kyrgyzstan", "Asia", 5_789_122.0),
    ("TKM", "Turkmenistan", "Asia", 5_351_277.0),
    ("IRN", "Iran", "Asia", 82_021_564.0),
    ("SYR", "Syria", "Asia", 18_028_549.0),
    ("ARM", "Armenia", "Asia", 3_045_191.0),
    ("SWE", "Sweden", "Europe", 9_960_487.0),
    ("BLR", "Belarus", "Europe", 9_549_747.0),
    ("UKR", "Ukraine", "Europe", 44_033_874.0),
    ("POL", "Poland", "Europe", 38_476_269.0),
    ("AUT", "Austria", "Europe", 8_754_413.0),
    ("HUN", "Hungary", "Europe", 9_850_845.0),
    ("MDA", "Moldova", "Europe", 3_474_121.0),
    ("ROU", "Romania", "Europe", 21_529_967.0),
    ("LTU", "Lithuania", "Europe", 2_823_859.0),
    ("LVA", "Latvia", "Europe", 1_944_643.0),
    ("EST", "Estonia", "Europe", 1_251_581.0),
    ("DEU", "Germany", "Europe", 80_594_017.0),
    ("BGR", "Bulgaria", "Europe", 7_101_510.0),
    ("GRC", "Greece", "Europe", 10_768_477.0),
    ("TUR", "Turkey", "Asia", 80_845_215.0),
    ("ALB", "Albania", "Europe", 3_047_987.0),
    ("HRV", "Croatia", "Europe", 4_292_095.0),
    ("CHE", "Switzerland", "Europe", 8_236_303.0),
    ("LUX", "Luxembourg", "Europe", 594_130.0),
    ("BEL", "Belgium", "Europe", 11_491_346.0),
    ("NLD", "Netherlands", "Europe", 17_084_719.0),
    ("PRT", "Portugal", "Europe", 10_839_514.0),
    ("ESP", "Spain", "Europe", 48_958_159.0),
    ("IRL", "Ireland", "Europe", 5_011_102.0),
    ("NCL", "New Caledonia", "Oceania", 279_070.0),
    ("SLB", "Solomon Is.", "Oceania", 647_581.0),
    ("NZL", "New Zealand", "Oceania", 4_510_327.0),
    ("AUS", "Australia", "Oceania", 23_232_413.0),
    ("LKA", "Sri Lanka", "Asia", 22_409_381.0),
    ("CHN", "China", "Asia", 1_379_302_771.0),
    ("TWN", "Taiwan", "Asia", 23_508_428.0),
    ("ITA", "Italy", "Europe", 62_137_802.0),
    ("DNK", "Denmark", "Europe", 5_605_948.0),
    ("GBR", "United Kingdom", "Europe", 64_769_452.0),
    ("ISL", "Iceland", "Europe", 339_747.0),
    ("AZE", "Azerbaijan", "Asia", 9_961_396.0),
    ("GEO", "Georgia", "Asia", 4_926_330.0),
    ("PHL", "Philippines", "Asia", 104_256_076.0),
    ("MYS", "Malaysia", "Asia", 31_381_992.0),
    ("BRN", "Brunei", "Asia", 443_593.0),
    ("SVN", "Slovenia", "Europe", 1_972_126.0),
    ("FIN", "Finland", "Europe", 5_518_371.0),
    ("SVK", "Slovakia", "Europe", 5_445_829.0),
    ("CZE", "Czechia", "Europe", 10_674_723.0),
    ("ERI", "Eritrea", "Africa", 5_918_919.0),
    ("JPN", "Japan", "Asia", 126_451_398.0),
    ("PRY", "Paraguay", "South America", 6_943_739.0),
    ("YEM", "Yemen", "Asia", 28_036_829.0),
    ("SAU", "Saudi Arabia", "Asia", 28_571_770.0),
    ("ATA", "Antarctica", "Antarctica", 4_050.0),
    ("-99", "N. Cyprus", "Asia", 1_587_067.0),
    ("CYP", "Cyprus", "Asia", 1_221_549.0),
    ("MAR", "Morocco", "Africa", 33_986_655.0),
    ("EGY", "Egypt", "Africa", 97_041_072.0),
    ("LBY", "Libya", "Africa", 6_653_210.0),
    ("ETH", "Ethiopia", "Africa", 105_350_020.0),
    ("DJI", "Djibouti", "Africa", 865_267.0),
    ("-99", "Somaliland", "Africa", 3_500_000.0),
    ("UGA", "Uganda", "Africa", 39_570_125.0),
    ("RWA", "Rwanda", "Africa", 11_901_484.0),
    ("BIH", "Bosnia and Herz.", "Europe", 3_856_181.0),
    ("MKD", "Macedonia", "Europe", 2_103_721.0),
    ("SRB", "Serbia", "Europe", 7_111_024.0),
    ("MNE", "Montenegro", "Europe", 642_550.0),
    ("-99", "Kosovo", "Europe", 1_895_250.0),
    ("TTO", "Trinidad and Tobago", "North America", 1_218_208.0),
    ("SSD", "S. Sudan", "Africa", 13_026_129.0),
]

# The reference's four fixes (project-co2.py:140-143), name -> code.
ISO_PATCHES: dict[str, str] = {
    "France": "FRA",
    "Norway": "NOR",
    "Somaliland": "SOM",
    "Kosovo": "RKS",
}

# TPC-H nation names -> ISO-3166 alpha-3, so the driver's `nation`
# table can play the fact side of the geo join in oracle-checked
# queries (the real CO2 CSV already carries iso codes).
NATION_ISO: dict[str, str] = {
    "ALGERIA": "DZA",
    "ARGENTINA": "ARG",
    "BRAZIL": "BRA",
    "CANADA": "CAN",
    "EGYPT": "EGY",
    "ETHIOPIA": "ETH",
    "FRANCE": "FRA",
    "GERMANY": "DEU",
    "INDIA": "IND",
    "INDONESIA": "IDN",
    "IRAN": "IRN",
    "IRAQ": "IRQ",
    "JAPAN": "JPN",
    "JORDAN": "JOR",
    "KENYA": "KEN",
    "MOROCCO": "MAR",
    "MOZAMBIQUE": "MOZ",
    "PERU": "PER",
    "CHINA": "CHN",
    "ROMANIA": "ROU",
    "SAUDI ARABIA": "SAU",
    "VIETNAM": "VNM",
    "RUSSIA": "RUS",
    "UNITED KINGDOM": "GBR",
    "UNITED STATES": "USA",
}


def world_dim_df(spark: SparkSession) -> DataFrame:
    """The dimension as a (broadcastable) local relation, pre-patch.

    Built from an Arrow-backed pandas frame with an explicit schema, so
    the plan holds a ``LocalRelation``: the rows live in the plan and no
    Python worker starts.  ``createDataFrame(list)`` would plan a
    ``LogicalRDD`` over pickled rows and fork one.  ``arrow_transfer``
    makes this independent of the caller's Arrow setting.

    Includes an opaque ``geometry_wkt`` payload column standing in for
    the polygon geometry (never computed on, exercises
    carry-a-wide-column-through-a-join).
    """
    rows = pd.DataFrame(WORLD_DIM, columns=["iso_a3", "name", "continent", "pop_est"])
    with arrow_transfer(spark):
        df = spark.createDataFrame(rows, "iso_a3 string, name string, continent string, pop_est double")
    return df.withColumn(
        "geometry_wkt",
        F.concat(F.lit("POINT ("), (F.crc32("name") % 360 - 180).cast("string"), F.lit(" 0)")),
    )


def apply_iso_patches(dim: DataFrame) -> DataFrame:
    """Reference project-co2.py:140-143: fix the four '-99' codes by
    country name.  N. Cyprus stays '-99', as in the reference."""
    patch = F.col("iso_a3")
    for name, code in ISO_PATCHES.items():
        patch = F.when(F.col("name") == name, F.lit(code)).otherwise(patch)
    return dim.withColumn("iso_a3", patch)


def sql_iso_patches(iso: str = "iso_a3", name: str = "name") -> str:
    """The same patch as ANSI SQL, for DuckDB oracle parity."""
    whens = " ".join(f"WHEN {name} = '{n}' THEN '{c}'" for n, c in ISO_PATCHES.items())
    return f"CASE {whens} ELSE {iso} END"


def sql_nation_iso(n_name: str = "n_name") -> str:
    """TPC-H nation name -> iso_a3 as ANSI SQL CASE."""
    whens = " ".join(f"WHEN {n_name} = '{n}' THEN '{c}'" for n, c in NATION_ISO.items())
    return f"CASE {whens} END"


def geo_left_join(dim: DataFrame, fact: DataFrame, key: str = "iso_a3") -> DataFrame:
    """Reference project-co2.py:147 semantics, Spark-first: LEFT join
    preserving every world row; unmatched countries carry nulls (the
    reference renders them grey).  The per-country fact aggregate is
    tiny by construction, so it is the broadcast (non-preserved) side
    -- the dim never shuffles regardless of how wide the payload
    columns are.
    """
    return dim.join(F.broadcast(fact), on=key, how="left")
