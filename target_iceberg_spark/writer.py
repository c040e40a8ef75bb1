"""Stream -> table sink: idempotent DDL + append/upsert/overwrite.

Re-expresses the reference's sink pipeline (reference sinks.py:36-100)
on Spark's writer stack:

  reference                               engine
  ---------------------------------------+--------------------------------
  load_catalog per batch (sinks.py:43-65)| session-scoped catalog conf,
                                         |   connected once (SURVEY §4)
  create_namespace + error swallow       | CREATE NAMESPACE IF NOT EXISTS /
    (sinks.py:67-77)                     |   mkdir (parquet mode)
  load-or-create table (sinks.py:88-97)  | ensure_table(): CREATE IF ABSENT,
                                         |   with optional partition spec
                                         |   (reference creates unpartitioned)
  table.append(arrow) (sinks.py:100)     | df.writeTo(...).append() /
                                         |   write.parquet(mode=append)
  key_properties accepted, unused        | upsert(): MERGE-style last-wins
    (sinks.py:25,31 — append-only)       |   (engine extension)
  ACTIVATE_VERSION ignored (target.py:6) | overwrite(): full refresh

Two physical modes behind one API:
  - **iceberg**: when an Iceberg Spark catalog is on the classpath the
    writer uses `writeTo(catalog.ns.table)` append/create and SQL MERGE.
  - **parquet** (default here): a plain parquet warehouse directory
    `{warehouse}/{namespace}/{stream}/` — the local test environment
    ships no Iceberg runtime jar, and correctness must not depend on
    network jars. Upsert/overwrite rewrite via a temp dir + directory
    swap (Iceberg gives real snapshot atomicity; the parquet fallback
    is best-effort and documents that).

At 100 TB: appends should land partitioned (pass ``partition_by`` —
e.g. a day-bucketed column) so downstream scans prune; the reference
always creates unpartitioned tables (sinks.py:96).
"""

from __future__ import annotations

import itertools
import os
import shutil
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def iceberg_available(spark: SparkSession, catalog: str = "lakehouse") -> bool:
    """True when the Iceberg Spark runtime is usable: the class is on the
    JVM classpath AND the named catalog is actually configured. The class
    check alone proves the jar exists, not that `catalog.ns.table`
    identifiers resolve — without the conf, DDL would fail at
    construction time."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
    except Exception:
        return False
    try:
        return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    except Exception:
        return False


@dataclass
class WriterConfig:
    """Engine equivalent of the reference's config surface
    (reference target.py:15-59): warehouse location + namespace +
    metadata flag; catalog name only meaningful in iceberg mode."""

    warehouse: str
    namespace: str = "default"
    catalog: str = "lakehouse"
    add_record_metadata: bool = False  # reference target.py:16 (default False)
    partition_by: tuple[str, ...] = field(default_factory=tuple)
    # Sort-order clustering (the Iceberg SORT ORDER analogue): rows are
    # range-partitioned then sorted on these columns before every write,
    # so each parquet file covers a tight, near-disjoint min/max range
    # and range predicates skip whole files/row groups at scan time —
    # the data-skipping lever that matters most at 100 TB.
    sort_by: tuple[str, ...] = field(default_factory=tuple)


class StreamWriter:
    def __init__(self, spark: SparkSession, config: WriterConfig, mode: str = "auto"):
        self.spark = spark
        self.config = config
        if mode == "auto":
            mode = "iceberg" if iceberg_available(spark, config.catalog) else "parquet"
        if mode not in ("iceberg", "parquet"):
            raise ValueError(f"unknown writer mode: {mode}")
        self.mode = mode
        # _sdc_sequence source; next() on it is atomic in CPython, so
        # streams drained on concurrent threads get distinct values
        self._batch_seq = itertools.count(1)
        self.ensure_namespace()

    # -- identifiers -----------------------------------------------------
    def table_identifier(self, stream: str) -> str:
        """Table name == stream name (reference sinks.py:85-86)."""
        return f"{self.config.catalog}.{self.config.namespace}.{stream}"

    def table_path(self, stream: str) -> str:
        return os.path.join(self.config.warehouse, self.config.namespace, stream)

    # -- DDL -------------------------------------------------------------
    @staticmethod
    def create_namespace_sql(catalog: str, namespace: str) -> str:
        return f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"

    @staticmethod
    def delete_sql(ident: str, condition: str) -> str:
        return f"DELETE FROM {ident} WHERE {condition}"

    @staticmethod
    def rewrite_files_call_sql(catalog: str, namespace: str, stream: str) -> str:
        return f"CALL {catalog}.system.rewrite_data_files('{namespace}.{stream}')"

    def ensure_namespace(self) -> None:
        """Reference sinks.py:67-77 (create_namespace + swallow-exists)."""
        if self.mode == "iceberg":
            self.spark.sql(
                self.create_namespace_sql(self.config.catalog, self.config.namespace)
            )
        else:
            os.makedirs(os.path.join(self.config.warehouse, self.config.namespace), exist_ok=True)

    def table_exists(self, stream: str) -> bool:
        if self.mode == "iceberg":
            return self.spark.catalog.tableExists(self.table_identifier(stream))
        path = self.table_path(stream)
        if not os.path.isdir(path):
            return False
        # recursive: partitioned tables keep data under key=value/ subdirs
        return any(
            f.endswith(".parquet")
            for _, _, files in os.walk(path)
            for f in files
        )

    # -- record metadata (reference A12, SDK-inherited) ------------------
    def _with_metadata(self, df: DataFrame) -> DataFrame:
        """Add the six ``_sdc_*`` columns the reference's SDK stamps when
        ``add_record_metadata`` is on (reference target.py:16; SURVEY §2
        A12): extracted/received/batched timestamps, soft-delete marker,
        batch sequence, and table version. Columns the source already
        attached (e.g. ``_sdc_table_version`` from ACTIVATE_VERSION
        tagging, ``_sdc_extracted_at`` from a RECORD's time_extracted)
        are passed through untouched."""
        if not self.config.add_record_metadata:
            return df
        seq = next(self._batch_seq)
        existing = set(df.columns)
        defaults = {
            "_sdc_extracted_at": F.current_timestamp(),
            "_sdc_received_at": F.current_timestamp(),
            "_sdc_batched_at": F.current_timestamp(),
            "_sdc_deleted_at": F.lit(None).cast("timestamp"),
            "_sdc_sequence": F.lit(seq).cast("long"),
            "_sdc_table_version": F.lit(None).cast("long"),
        }
        for name, col in defaults.items():
            if name not in existing:
                df = df.withColumn(name, col)
        return df

    # -- writes ----------------------------------------------------------
    def _clustered(self, df: DataFrame, n_files: int | None = None) -> DataFrame:
        """Apply the configured sort-order clustering: range-partition on
        the sort keys (globally ordered file ranges, like an Iceberg
        SORT ORDER's distribution), then sort within each partition so
        every file's pages are ordered too. No-op when ``sort_by`` is
        unset. ``n_files`` pins the partition count (compaction); by
        default Spark's range partitioner picks it from
        spark.sql.shuffle.partitions."""
        if not self.config.sort_by:
            return df
        cols = [F.col(c) for c in self.config.sort_by]
        if n_files is not None:
            df = df.repartitionByRange(n_files, *cols)
        else:
            df = df.repartitionByRange(*cols)
        return df.sortWithinPartitions(*cols)

    def append(self, df: DataFrame, stream: str) -> None:
        """Append-only batch commit (reference sinks.py:88-100: load-or-
        create then table.append). Duplicate keys are persisted as-is,
        matching the reference's unused key_properties."""
        df = self._clustered(self._with_metadata(df))
        if self.mode == "iceberg":
            ident = self.table_identifier(stream)
            if not self.table_exists(stream):
                w = df.writeTo(ident)
                if self.config.partition_by:
                    w = w.partitionedBy(*[F.col(c) for c in self.config.partition_by])
                w.create()
            else:
                # merge-schema lets an evolved stream add columns without
                # manual ALTER TABLE (reference TODO at sinks.py:92)
                df.writeTo(ident).option("merge-schema", "true").append()
        else:
            writer = df.write.mode("append")
            if self.config.partition_by:
                writer = writer.partitionBy(*self.config.partition_by)
            writer.parquet(self.table_path(stream))

    @staticmethod
    def _dedupe_batch(df: DataFrame, key_properties: list[str]) -> DataFrame:
        """Keep the LAST row per key within one batch (arrival order ==
        row order in the buffered DataFrame; monotonically_increasing_id
        is ascending in that order). Required before MERGE — multiple
        source matches per target row are an error in Iceberg — and for
        deterministic last-write-wins in the parquet path."""
        w = Window.partitionBy(*key_properties).orderBy(F.desc("_upsert_seq"))
        return (
            df.withColumn("_upsert_seq", F.monotonically_increasing_id())
            .withColumn("_upsert_rn", F.row_number().over(w))
            .where(F.col("_upsert_rn") == 1)
            .drop("_upsert_rn", "_upsert_seq")
        )

    @staticmethod
    def merge_statements(
        ident: str,
        view: str,
        key_properties: list[str],
        source_schema,
        target_cols: list[str],
    ) -> list[str]:
        """SQL statements for an upsert MERGE that survives schema
        evolution in BOTH directions (the append path's merge-schema
        equivalent — without this, keyed streams would lose the schema-
        evolution guarantee this module documents):

          * source wider than target: ALTER TABLE ADD COLUMNS first, so
            the MERGE can assign the new columns;
          * target wider than source (pre-evolution batch replaying):
            UPDATE/INSERT use explicit column lists restricted to the
            source's columns — ``UPDATE SET * / INSERT *`` would fail to
            resolve the missing ones. Unassigned target columns keep
            their value on UPDATE and default to NULL on INSERT.

        Pure string generation so the Iceberg-mode branch is unit-
        testable without an Iceberg runtime on the classpath.
        """
        stmts: list[str] = []
        source_cols = [f.name for f in source_schema.fields]
        new_fields = [f for f in source_schema.fields if f.name not in target_cols]
        if new_fields:
            cols_ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in new_fields
            )
            stmts.append(f"ALTER TABLE {ident} ADD COLUMNS ({cols_ddl})")
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_properties)
        set_clause = ", ".join(f"t.{c} = s.{c}" for c in source_cols)
        insert_cols = ", ".join(source_cols)
        insert_vals = ", ".join(f"s.{c}" for c in source_cols)
        stmts.append(
            f"MERGE INTO {ident} t USING {view} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {set_clause} "
            f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
        )
        return stmts

    def upsert(self, df: DataFrame, stream: str, key_properties: list[str]) -> None:
        """Last-write-wins merge on the Singer key_properties — the
        engine extension fixing the reference's silent append-only
        handling of keyed streams (reference sinks.py:25,100)."""
        if not key_properties:
            raise ValueError("upsert requires non-empty key_properties")
        df = self._dedupe_batch(self._with_metadata(df), key_properties)
        if self.mode == "iceberg":
            ident = self.table_identifier(stream)
            if not self.table_exists(stream):
                w = df.writeTo(ident)
                if self.config.partition_by:
                    w = w.partitionedBy(*[F.col(c) for c in self.config.partition_by])
                w.create()
                return
            view = f"_upsert_src_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            try:
                target_cols = self.spark.table(ident).columns
                for stmt in self.merge_statements(
                    ident, view, key_properties, df.schema, target_cols
                ):
                    self.spark.sql(stmt)
            finally:
                self.spark.catalog.dropTempView(view)
            return
        # parquet mode: union + keep newest row per key, then swap dirs.
        df = df.withColumn("_upsert_gen", F.lit(1))
        if self.table_exists(stream):
            existing = self.read(stream).withColumn("_upsert_gen", F.lit(0))
            df = existing.unionByName(df, allowMissingColumns=True)
        w = Window.partitionBy(*key_properties).orderBy(F.desc("_upsert_gen"))
        deduped = (
            df.withColumn("_upsert_rn", F.row_number().over(w))
            .where(F.col("_upsert_rn") == 1)
            .drop("_upsert_rn", "_upsert_gen")
        )
        self._swap_write(deduped, stream)

    def delete_where(self, stream: str, condition: str) -> None:
        """Delete rows matching a SQL condition (used by ACTIVATE_VERSION
        to retire rows of superseded table versions).

        Parquet mode matches SQL DELETE semantics exactly: only rows
        where the condition is TRUE are removed. A bare ``NOT (cond)``
        filter would also drop NULL-condition rows (e.g. rows with a
        NULL ``_sdc_table_version`` under ``_sdc_table_version < v``) —
        the opposite of Iceberg-mode DELETE, which keeps them."""
        if not self.table_exists(stream):
            return
        if self.mode == "iceberg":
            self.spark.sql(self.delete_sql(self.table_identifier(stream), condition))
            return
        kept = self.read(stream).where(f"NOT ({condition}) OR ({condition}) IS NULL")
        self._swap_write(kept, stream)

    def overwrite(self, df: DataFrame, stream: str) -> None:
        """Full-refresh semantics — what Singer ACTIVATE_VERSION implies;
        the reference parses the message but never acts on it
        (SURVEY §2 A16)."""
        df = self._with_metadata(df)
        if self.mode == "iceberg":
            df.writeTo(self.table_identifier(stream)).createOrReplace()
        else:
            self._swap_write(df, stream)

    def _swap_write(
        self, df: DataFrame, stream: str, n_files: int | None = None
    ) -> None:
        path = self.table_path(stream)
        tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
        writer = self._clustered(df, n_files=n_files).write.mode("overwrite")
        if self.config.partition_by:
            writer = writer.partitionBy(*self.config.partition_by)
        writer.parquet(tmp)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    def compact(self, stream: str, target_file_mb: int = 128) -> int:
        """Small-files maintenance: rewrite the table into
        ceil(bytes / target_file_mb) files. Streaming appends produce one
        file per micro-batch partition; at 100 TB that means millions of
        tiny parquet files unless compacted (Iceberg mode would use
        rewrite_data_files; the parquet warehouse coalesces + swaps).
        Returns the file count after compaction."""
        if self.mode == "iceberg":
            self.spark.sql(
                self.rewrite_files_call_sql(
                    self.config.catalog, self.config.namespace, stream
                )
            )
            return -1  # Iceberg tracks its own file inventory
        path = self.table_path(stream)
        total_bytes = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for dirpath, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
        df = self.read(stream)
        if not self.config.sort_by:
            df = df.coalesce(int(n_files))
        # sort_by: _swap_write re-clusters by range at exactly n_files,
        # so compaction preserves the table's sort-order clustering
        self._swap_write(df, stream, n_files=int(n_files))
        return sum(
            1
            for dirpath, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    # -- reads -----------------------------------------------------------
    def read(self, stream: str) -> DataFrame:
        if self.mode == "iceberg":
            return self.spark.table(self.table_identifier(stream))
        # mergeSchema: batches appended under an evolved (wider) stream
        # schema surface every column; pre-evolution rows read as NULL
        # in the added columns. This is the engine's answer to the
        # reference's open TODO "Handle schema evolution" (sinks.py:92).
        return self.spark.read.option("mergeSchema", "true").parquet(
            self.table_path(stream)
        )
