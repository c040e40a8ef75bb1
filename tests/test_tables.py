"""Per-file parquet schema cache in sources/tables.py::load_table.

A repeated load of an unchanged table file must start no Spark job and
must read exactly what a plain ``spark.read.parquet`` reads: same schema,
same scan (ReadSchema, PushedFilters). A rewritten file, or a flipped
parquet type-conversion conf, must be inferred again.
"""

from __future__ import annotations

import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from target_iceberg_spark.sources import tables


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"test-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _scan(df) -> list[str]:
    """The scan's PushedFilters and ReadSchema for a filter on the first
    column (expression ids differ between DataFrames; these do not)."""
    plan = (
        df.filter(F.col(df.columns[0]).isNotNull())
        ._jdf.queryExecution().executedPlan().toString()
    )
    return re.findall(r"(?:PushedFilters|ReadSchema): \S+", plan)


@pytest.mark.parametrize("name", tables.TABLES)
def test_warm_load_starts_no_job(spark, sf_oracle, name, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {}, raising=False)
    load = lambda: tables.load_table(spark, sf_oracle, name)  # noqa: E731
    assert _jobs_started(spark, load) >= 1  # cold: infers the schema
    assert _jobs_started(spark, load) == 0


@pytest.mark.parametrize("name", tables.TABLES)
def test_warm_load_matches_plain_read(spark, sf_oracle, name):
    tables.load_table(spark, sf_oracle, name)
    warm = tables.load_table(spark, sf_oracle, name)
    plain = spark.read.parquet(f"{sf_oracle}/{name}.parquet")
    if name == "events" and dict(plain.dtypes)["ts"] == "bigint":
        plain = plain.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    assert warm.schema == plain.schema
    assert warm.dtypes == plain.dtypes
    scan = _scan(warm)
    assert len(scan) == 2 and scan == _scan(plain)
    if name == "events":
        assert dict(warm.dtypes)["ts"] == "timestamp_ntz"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "x.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["u", "v"]}), path)
    assert tables.load_table(spark, str(tmp_path), "x").columns == ["a", "b"]
    pq.write_table(pa.table({"c": [1.5]}), path)
    df = tables.load_table(spark, str(tmp_path), "x")
    assert df.dtypes == [("c", "double")]
    assert [r.c for r in df.collect()] == [1.5]


def test_cached_schema_not_served_after_conf_flip(spark, tmp_path):
    pq.write_table(pa.table({"blob": pa.array([b"xy"], pa.binary())}), tmp_path / "x.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    as_string = before != "true"
    load = lambda: tables.load_table(spark, str(tmp_path), "x").dtypes  # noqa: E731
    first = load()
    spark.conf.set(key, str(as_string).lower())
    try:
        assert load() == [("blob", "string" if as_string else "binary")]
    finally:
        spark.conf.set(key, before)
    assert load() == first


def test_directory_table_is_not_cached(spark, tmp_path):
    # Rewriting a file inside a directory leaves the directory's stat
    # unchanged, so a directory's schema must be inferred on every load.
    table_dir = tmp_path / "x.parquet"
    table_dir.mkdir()
    pq.write_table(pa.table({"a": [1]}), table_dir / "part-0.parquet")
    assert tables.load_table(spark, str(tmp_path), "x").columns == ["a"]
    pq.write_table(pa.table({"b": [1]}), table_dir / "part-0.parquet")
    assert tables.load_table(spark, str(tmp_path), "x").columns == ["b"]
