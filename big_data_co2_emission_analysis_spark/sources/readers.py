"""Source readers (reference SURVEY.md section 2.1, S1-S3).

The reference loads one CSV with ``header=true, inferSchema=true``
(reference project-co2.py:87) and a variant with ``escape="@"``
(reference BigData_Mayur.py:20).  Schema inference is a 2-pass scan --
an anti-pattern at 100 TB -- so every reader here accepts an explicit
``StructType`` and the CO2 table ships one (`CO2_WIDE_SCHEMA`).

Parquet is the engine's primary columnar format: vectorized reader,
predicate pushdown, column pruning, partition pruning all apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the synthetic star-schema fixture ships (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_nbytes(path: str) -> "int | None":
    """Local on-disk byte size of a table (file or directory),
    skipping ``_``/``.``-prefixed metadata entries; ``None`` when the
    path is absent or non-local.

    This is the ONE copy of the filesystem byte-walk every byte-scaled
    gate uses (read_documents' explode-parallelism guard, the
    distinct-rewrite / posting-exchange / bucket-count gates, the co2
    ``load_clean`` one-partition gate).  The
    metadata-skip rule lives here so the gates cannot diverge."""
    import os

    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
        if os.path.exists(path):
            return os.path.getsize(path)
    except OSError:
        pass
    return None


#: Explicit schema for the reference's wide CO2 table
#: (one row per country, one double column per year 1960-2019, plus the
#: phantom trailing-comma column `_c64`; see SURVEY.md section 1).
CO2_YEARS = [str(y) for y in range(1960, 2020)]
CO2_WIDE_SCHEMA = T.StructType(
    [
        T.StructField("Country Name", T.StringType(), False),
        T.StructField("Country Code", T.StringType(), False),
        T.StructField("Indicator Name", T.StringType(), True),
        T.StructField("Indicator Code", T.StringType(), True),
        *[T.StructField(y, T.DoubleType(), True) for y in CO2_YEARS],
        T.StructField("_c64", T.StringType(), True),
    ]
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
    escape: str | None = None,
    **options: str,
) -> DataFrame:
    """CSV scan (S1/S2).  Explicit ``schema`` beats ``infer_schema``
    (inference forces an extra full pass over the data)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    if escape is not None:
        reader = reader.option("escape", escape)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_co2_csv(spark: SparkSession, path: str, edited: bool = True) -> DataFrame:
    """Read the World Bank wide CO2 table (reference project-co2.py:87).

    ``edited=True`` expects the header-first file (the reference's
    ``co2-dataset-edited.csv``).  ``edited=False`` handles the raw WDI
    export (``co2-dataset.csv``): two metadata lines + blank lines before
    the header.  The raw path stays DataFrame-native -- read as text,
    drop preamble lines, parse with ``from_csv`` -- no driver-side loop,
    so it scales to arbitrarily many files.  Any preamble or header line
    may start with a UTF-8 BOM: the text reader drops one only at the
    start of a file, and with the metadata lines prepended the edited
    file's BOM'd header sits below them.
    """
    if edited:
        return read_csv(spark, path, schema=CO2_WIDE_SCHEMA, header=True)

    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in CO2_WIDE_SCHEMA)
    lines = spark.read.text(path)
    data = lines.filter(
        ~F.col("value").rlike(r'^\uFEFF?"?(Data Source|Last Updated Date|Country Name)')
        & (F.trim(F.col("value")) != "")
    )
    parsed = data.select(F.from_csv(F.col("value"), ddl).alias("r")).select("r.*")
    return parsed


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """JSON-lines source.  Always pass ``schema`` in production --
    inference scans the data twice, and a schema makes bad records
    land in ``corrupt_col`` (PERMISSIVE) instead of poisoning types.
    ``mode``: PERMISSIVE (default; corrupt rows -> corrupt_col),
    DROPMALFORMED, or FAILFAST.
    """
    reader = spark.read.option("mode", mode)
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if corrupt_col and mode == "PERMISSIVE" and corrupt_col not in schema.fieldNames():
            schema = schema.add(corrupt_col, T.StringType())
        reader = reader.schema(schema)
    if corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.json(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Media ingestion source: ``binaryFile`` format -> (path,
    modificationTime, length, content) with the payload as an opaque
    binary column -- the entry point for the multimodal operators
    (operators/multimodal.py).

    ``glob`` filters by name pattern (e.g. ``*.png``) at listing time;
    ``max_bytes`` drops oversized payloads BEFORE they are read into
    rows (`length` is a partition-pruning-style metadata filter --
    pushed to the file listing, not a row filter).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its timestamp encoding.

    The fixture's ``events.parquet`` stores ``ts`` as parquet
    TIMESTAMP(NANOS) which Spark's reader rejects; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as long
    nanoseconds, which we floor-divide to microseconds (integer ``div``
    -- a double division would lose precision above 2^53) and rebuild a
    timestamp, matching DuckDB's nanos->micros truncation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # ts becomes TimestampType (tz-sensitive); pin UTC so wall-clock
    # comparisons match naive-timestamp engines regardless of the
    # caller's session timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # micros-encoded fixtures surface as TIMESTAMP_NTZ and pass through
    # unchanged: consumers use type-agnostic timestamp arithmetic
    # (interval comparison, not unix_micros -- which rejects NTZ), and
    # naive timestamps round-trip to the driver exactly like DuckDB's
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan -- vectorized, pushdown-capable (the scale default)."""
    return spark.read.parquet(path)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the documents table with a minimum-parallelism guard.

    Parquet splits only at row-group boundaries; the small-SF fixture is
    a single row group, so without intervention every CPU-heavy per-row
    op downstream (shingling, MinHash, SimHash, mapInPandas decode)
    runs as ONE task while the other 31 cores idle.  When the scan
    yields fewer partitions than the cluster's default parallelism we
    round-robin repartition -- the shuffle moves kilobytes here, and at
    real scale (thousands of row groups >= cores) the guard is a no-op
    so production plans never pay an extra exchange.
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = spark.sparkContext.defaultParallelism
    # Byte-scaled ceiling (r11): maxPartitionBytes packs a multi-hundred
    # -MB corpus of small files into ~cores splits, so every downstream
    # explode (shingle postings) buffers its WHOLE split's expansion in
    # one shuffle-write sorter -- at fixtures/sf30 (268 MB) the 32-way
    # split put ~72 MB of postings per task sorter and spilled the full
    # 2.3 GB posting exchange.  One task per ~4 MiB of compressed text
    # keeps the expansion sorter small; below the default-parallelism
    # floor (every committed SF through sf10) this is a no-op, so small
    # -SF plans and benches are unchanged.
    nbytes = table_nbytes(f"{sf_dir}/documents.parquet")
    if nbytes is not None:  # non-local path: keep the parallelism floor
        target = max(target, min(4096, nbytes // (4 * 1024 * 1024)))
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load the fixture star schema from ``{sf_dir}/{name}.parquet``."""
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (columnar peer of Parquet; same pushdown/pruning
    machinery in Spark's DataSource V2 -- predicate pushdown, column
    pruning, and vectorized reads all apply)."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """XML source (built into Spark 4; previously the spark-xml
    package).  One row per ``row_tag`` element.  As with JSON, pass
    ``schema`` in production: inference is an extra full scan, and XML
    carries even less type information than JSON (everything is text
    until the rowTag parser coerces it)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        reader = reader.schema(schema)
    return reader.load(path)


def read_text(
    spark: SparkSession, path: str, whole_text: bool = False, line_sep: str | None = None
) -> DataFrame:
    """Plain-text source: one row per line (``value: string``), or one
    row per FILE with ``whole_text`` -- the raw-corpus entry point when
    documents arrive as flat files rather than parquet.  ``whole_text``
    makes a file the unit of parallelism: fine for many small docs,
    wrong for one giant file (that file becomes one task).

    Note: ``wholetext``/``lineSep`` must go through the ``text()``
    keywords -- Spark 4 ignores them as generic reader options."""
    kwargs = {}
    if whole_text:
        kwargs["wholetext"] = True
    if line_sep is not None:
        kwargs["lineSep"] = line_sep
    return spark.read.text(path, **kwargs)
