"""SparkSession factory with scale-aware defaults.

The reference creates a bare ``SparkContext("local", "co2 emissions")``
with no tuning (reference project-co2.py:80).  Here every session gets
the settings a large cluster wants from day one:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) -- replaces hand-tuning per query.
- Arrow on for any pandas boundary (toPandas / pandas_udf).
- Session timezone pinned to UTC so timestamp semantics match ANSI
  engines (DuckDB oracle, downstream warehouses).
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster AQE coalesces from a higher initial value.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager as _contextmanager

from pyspark.sql import SparkSession

#: serializes arrow_transfer's session-global conf set/restore pairs
#: (reentrant: an operator inside an arrow_transfer may call another)
_ARROW_CONF_LOCK = threading.RLock()

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "big_data_co2_emission_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are overridable so tests can shrink parallelism and a
    cluster deployment can omit ``master`` to inherit spark-submit's.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release_pinned(spark: SparkSession) -> int:
    """Release every block the session's queries left pinned; returns
    how many persistent RDDs were held before the call.

    ``clearCache`` drops the SQL CacheManager entries (``persist``),
    but an eager ``localCheckpoint`` persists at the RDD level, where
    ``Dataset.unpersist`` cannot reach it -- those are released through
    the JavaSparkContext's persistent-RDD map.  Call it between queries
    in a long-lived session; a DataFrame built before the call must not
    be read after it (its checkpoint blocks are gone)."""
    jsc = spark.sparkContext._jsc
    n = int(jsc.getPersistentRDDs().size())
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    return n


@_contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, restoring each
    prior value on exit -- a key that was unset before is unset again
    -- also when the body raises.  A set that fails partway through
    entry (e.g. a static conf) rolls back the keys already applied
    before re-raising, so a failed entry never leaves the session
    half-configured.

    These are SESSION-GLOBAL runtime confs: two concurrent scopes over
    one key race on restore.  The scope takes no lock; a caller that
    must serialize holds its own around it (``arrow_transfer``).  A
    stream run must NOT hold one: its foreachBatch body runs on the
    py4j callback thread (and may enter ``arrow_transfer``) while the
    driver thread waits in ``awaitTermination()`` inside the scope."""
    saved: dict[str, str | None] = {}
    try:
        for k, v in confs.items():
            old = spark.conf.get(k, None)
            spark.conf.set(k, v)
            saved[k] = old
        yield
    finally:
        for k, old in reversed(saved.items()):
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@_contextmanager
def arrow_transfer(spark: SparkSession):
    """Force Arrow for a pandas-boundary transfer regardless of the
    caller's session config, restoring the prior setting on exit.

    The engine's :func:`get_session` enables Arrow globally, but
    operators must not DEPEND on that -- the round driver (and any
    user) may hand us a vanilla ``SparkSession``, and the pickle
    fallback is catastrophic for wide transfers: the streaming-dedup
    probe bitmap (one row holding 2^23 longs at a 2^29-bit filter)
    ships in ~0.6 s via Arrow and in MINUTES via pickle -- the sole
    cause of a 267 s/batch outlier in the r7 bloom sweep before this
    guard (SCALING_CURVE.md "bloom manifest dedup").  Wrap every
    ``toPandas``/``createDataFrame(pandas)`` whose volume scales with
    data, not just fixture size.

    Thread-safety: the Arrow flag is SESSION-GLOBAL runtime conf, so
    the set/restore pair is serialized under a module lock -- two
    concurrent ``arrow_transfer`` blocks can no longer interleave and
    leave the other's transient value behind.  A foreign thread
    touching the same key OUTSIDE this contextmanager is still racy
    (unfixable without a per-thread conf, which Spark does not offer);
    the engine's own callers all route through here, and the
    single-driver-thread bench/driver protocol is the documented
    operating mode."""
    with _ARROW_CONF_LOCK, conf_scope(
        spark, {"spark.sql.execution.arrow.pyspark.enabled": "true"}
    ):
        yield
