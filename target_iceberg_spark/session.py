"""SparkSession factory for the engine.

The reference connects to its Iceberg REST catalog *per batch*
(reference sinks.py:43-65 — load_catalog inside process_batch). Here all
environment/catalog configuration is session-scoped and applied once.

Scale notes (100 TB / 1000-executor design, tested on local[32]):
  - AQE on: runtime partition coalescing, skew-join splitting, and
    dynamic join-strategy demotion replace hand-tuned shuffle counts.
  - shuffle.partitions is only the *initial* number; AQE coalesces.
    On a real cluster set it ~2-3x total cores; locally we keep it
    modest so tiny test inputs don't fragment.
  - Arrow execution on: every pandas_udf / toPandas crossing is
    Arrow-batched, never per-row pickled.
  - UTC session timezone: keeps timestamp semantics independent of the
    host, and matches the reference's normalization of date-times to UTC
    (reference iceberg.py:95 -> timestamp("us", tz="UTC")).
  - legacy.parquet.nanosAsLong: the events table carries
    TIMESTAMP(NANOS) parquet columns, which Spark 4 otherwise refuses
    to read; sources/tables.py converts the raw long back to a
    timestamp_ntz column.
  - codegen.cache.maxEntries 8192: the generated-code cache keeps each
    compiled class, keyed by its source text. Spark's default of 100 is
    smaller than one short 9-query rotation (101 classes), so every
    warm rotation recompiled about 30 of them with Janino; the 404
    benched queries need about 5.3k distinct classes at sf0.01. Guava
    splits the cache into 4 segments that evict separately, hence
    ~1.5x headroom. The cache holds only classes that were compiled,
    so the memory it pins (metaspace) follows the working set, not the
    limit: after a forward and a reverse pass over the registry it
    held 5555 classes in 245 MB of metaspace, against 208 MB with the
    default cache.
  - python.sql.dataFrameDebugging off: PySpark otherwise records the
    Python call site of every DataFrame/Column call, ~4 py4j round
    trips each, for the DataFrame query context of an error. With it
    off, an error keeps its message and error class, but no longer
    names the Python file and line of the call that built the failing
    expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Small local test inputs: AQE coalesces upward-sized shuffles anyway.
    "spark.sql.shuffle.partitions": "64",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Generated-code cache sized to the whole registry (see Scale notes).
    "spark.sql.codegen.cache.maxEntries": "8192",
    # No Python call-site capture around every DataFrame/Column call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Conf keys that are runtime-settable and must hold even when the caller
# (e.g. the verification driver) built the SparkSession itself. The
# codegen cache size and the call-site switch are static (the first is
# read once per JVM, the second once per Python process), so they hold
# only for sessions built by get_spark, not for a foreign driver session.
RUNTIME_CONF: tuple[str, ...] = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.adaptive.enabled",
)


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable engine conf to a foreign session."""
    for key in RUNTIME_CONF:
        try:
            spark.conf.set(key, ENGINE_CONF[key])
        except Exception:
            pass  # static conf on this build — session must be pre-configured
    ensure_package_shipped(spark)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes compiled by Janino in this JVM so far: each is a miss of
    the generated-code cache sized by ``spark.sql.codegen.cache.maxEntries``."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


_SHIPPED_CONTEXTS: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Module-level functions used inside pandas UDFs / mapInPandas are
    cloudpickled BY REFERENCE, so the worker must be able to import
    ``target_iceberg_spark`` — true neither for a foreign driver
    session started outside the repo (local mode) nor for remote
    executors on a real cluster. Zipping the package and addPyFile'ing
    it is the standard deployment path for both."""
    import tempfile
    import zipfile

    try:
        sc = spark.sparkContext
    except Exception:
        return  # Connect-only session: rely on closure pickling by value
    key = id(sc)
    if key in _SHIPPED_CONTEXTS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"target_iceberg_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # e.g. duplicate add on a shared context
    _SHIPPED_CONTEXTS.add(key)


def get_spark(
    app_name: str = "target-iceberg-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset) —
    on a real cluster pass None and submit through spark-submit instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    for key, value in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_conf(spark)
