"""Lazy SparkSession management.

The reference builds its session eagerly at import time
(reference: shared/spark.py:26-97) — an anti-pattern this engine replaces
with an explicit, lazily-created, configurable builder.  Nothing in this
package ever creates a session implicitly; operators take DataFrames and
use ``df.sparkSession`` when they need one.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Defaults tuned for a large cluster but harmless on local[*]:
# AQE handles skew/coalescing at runtime; 200 shuffle partitions is Spark's
# default and is overridden per-environment (tests use 32 to match cores).
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # one python worker runs per executor core already — an unpinned BLAS
    # would spawn n_cores threads in EACH worker (n² total) and thrash
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # Janino-compiled classes are cached by generated source.  Spark's
    # default of 100 entries (a Guava LRU in 4 segments of 25, so it
    # evicts before it is full) is smaller than one pass of a profile:
    # ~177 classes per perfbench profile_ml pass, ~97 per text_events
    # pass, so every re-run of the same config recompiled them.  Static
    # conf, read once per JVM when code is first generated: it takes
    # effect only when get_session creates the SparkContext; an
    # already-running session keeps its own value (applyModifiableSettings
    # only warns).
    "spark.sql.codegen.cache.maxEntries": "1024",
}


MIN_SPARK = (3, 5)


def require_spark_version(spark: SparkSession) -> None:
    """Fail with a clear message — not a mid-query AnalysisException —
    on clusters older than Spark 3.5.  The engine uses expressions that
    do not exist before then (``try_sum``/``try_cast``, named lambda
    higher-order forms); the reference supports 2.4-3.2, so a user
    moving from it to an old EMR would otherwise hit an opaque parser
    error deep inside the first query."""
    ver = tuple(int(p) for p in spark.version.split(".")[:2])
    if ver < MIN_SPARK:
        raise RuntimeError(
            f"anovos_spark requires Spark >= {MIN_SPARK[0]}.{MIN_SPARK[1]} "
            f"(found {spark.version}): the engine relies on try_sum/try_cast "
            "and Spark 3.5 expression semantics. Upgrade the cluster, or "
            "stay on the reference implementation for 2.4-3.2 clusters."
        )


def get_session(
    app_name: str = "anovos_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Get or create a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    require_spark_version(spark)
    return spark
