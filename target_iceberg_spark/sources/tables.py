"""Loader for the engine's test/benchmark tables (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. Reads stay
fully declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning and partition-sized splits for free; the only
massaging is the ``events.ts`` column, which is physically parquet
TIMESTAMP(NANOS) — a type Spark 4 refuses unless
``spark.sql.legacy.parquet.nanosAsLong=true``, in which case it surfaces
as a raw long of epoch-nanoseconds that we convert back to a
microsecond ``timestamp_ntz`` (matching what DuckDB reads, truncated).

A single-file table's schema is inferred (one footer-reading Spark job)
only on its first load in the process; later loads pass the cached
``StructType`` to ``spark.read.schema``, which starts no job. Only this
catalog metadata is reused, never a DataFrame, plan or result.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
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

# --- scale-adaptive scan fanout (optimization guide §2.5 "input skew") ----
#
# The test tables are single parquet files with a single row group, so a
# bare read plans ONE scan task regardless of core count — and Spark fuses
# every narrow transformation (shingling, md5/minhash folds, explodes,
# partial aggregation) onto that scan stage, serializing the heaviest
# per-row compute in the engine onto one core of local[N] (measured in
# stats_tests.py::agg_bootstrap_ci: 3.9 s single-task vs 0.5 s spread at
# sf0.1 BEFORE its hand-placed repartition).  The fix is a round-robin
# repartition to defaultParallelism straight after the read — a shuffle of
# the (column-pruned) base rows, which at these sizes costs ~10 ms and
# buys cores-way parallelism for everything fused downstream.
#
# The gate is scale-adaptive, not tuned to local[32]: fan out ONLY when
# the table's on-disk bytes are below cores × split-size — i.e. when the
# file-split planner cannot even in principle hand every core a split.
# At 100 TB any fact table is orders of magnitude past the gate, so this
# is a provable no-op at cluster scale; at fixture scale it repairs the
# single-split input skew the guide's §2.5 calls out ("one huge
# unsplittable file ... repartition immediately after the read").
# Catalyst still pushes filters and projections below the repartition
# (PushDownPredicates / ColumnPruning handle RepartitionOperation), so
# PushedFilters/ReadSchema at the scan are unchanged — tests/test_plans.py
# asserts this survives.  Dimension-style tables stay un-fanned: they are
# broadcast sides where an extra exchange is pure loss.
#
# Fanout is strictly OPT-IN per call site (``load_table(..., fanout=True)``).
# A default-on full-sweep experiment (round 13) was decisively negative:
# with every documents/events/orders/lineitem load fanned, the 404-query
# sweep regressed 447 -> 622 s warm while a 55-query control group (queries
# loading none of those tables) stayed flat at 0.97x — the exchange costs
# ~0.3-0.7 s per load for ordinary scan->filter->aggregate queries whose
# single-task scan stage is short, and multi-load queries paid it several
# times (per-table group ratios 1.26-1.99x).  The win only exists where
# heavy per-row compute (shingles, md5 folds, n-gram explodes) is fused
# onto the one-task scan and dominates the query; those sites opt in, each
# with an interleaved same-JVM A/B measurement recorded in
# artifacts/OPTIMIZATION_r13.md.  Sampling-sensitive inputs (ANN training via
# `.sample(seed)` / MLlib k-means draws are PER-PARTITION) must never be
# fanned or results change — keep `embeddings` opt-outs as they are.
#
# Default parquet split size (spark.sql.files.maxPartitionBytes).
_FANOUT_SPLIT_BYTES = 128 * 1024 * 1024
# Below this the table is dimension-sized: the scan is trivial and the
# exchange would cost more than it saves (also keeps the sf0.001 smoke
# data on the exact pre-fanout plans).
_FANOUT_MIN_BYTES = 256 * 1024


def _table_bytes(path: str) -> int:
    """On-disk size of a table path (file or directory); -1 if unknowable."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _, files in os.walk(path):
                for fname in files:
                    total += os.path.getsize(os.path.join(root, fname))
            return total
    except OSError:
        pass
    return -1  # non-local storage: assume at-scale, never fan out


def scan_fanout(spark: SparkSession, df: DataFrame, nbytes: int) -> DataFrame:
    """Round-robin-fan a scan across the cluster when (and only when) the
    input is too small for the split planner to feed every core."""
    cores = spark.sparkContext.defaultParallelism
    if nbytes < 0 or nbytes < _FANOUT_MIN_BYTES:
        return df
    if nbytes >= cores * _FANOUT_SPLIT_BYTES:
        return df  # enough splits exist already — no-op at real scale
    return df.repartition(cores)


# Session confs that change how parquet physical types convert to Spark
# types: a schema inferred under one setting is wrong under another.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# abspath -> (file identity + conf values, schema): one entry per path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a regular file's schema
    once per file identity and conversion confs. A directory is always
    inferred: rewriting a file inside it leaves the directory's stat as
    it was."""
    if not os.path.isfile(path):  # a directory, or not on local disk
        return spark.read.parquet(path)
    st = os.stat(path)
    abspath = os.path.abspath(path)
    stamp = (
        st.st_size, st.st_mtime_ns, st.st_ino,
        tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    hit = _SCHEMAS.get(abspath)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[abspath] = (stamp, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """Load one test table as a DataFrame with engine-normalized columns."""
    from target_iceberg_spark.session import ensure_package_shipped

    # Every plan goes through here — guarantees executor Python workers
    # can import this package even under a foreign driver session.
    ensure_package_shipped(spark)
    if name == "events":
        # The nanos column needs the legacy read path; runtime-settable,
        # so this also works under a driver-owned session. Session-wide
        # by design (it is also in ENGINE_CONF): any OTHER nanos-typed
        # parquet column would then read as epoch-ns long and needs the
        # same explicit conversion this function applies to events.ts.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = _read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # epoch-ns long -> µs timestamp_ntz (truncating division, same as
        # DuckDB's TIMESTAMP_NS -> TIMESTAMP cast for post-1970 data).
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    if fanout:
        df = scan_fanout(spark, df, _table_bytes(path))
    return df


def register_temp_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so plans can use spark.sql()."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
