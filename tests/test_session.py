"""The engine session's two per-query overhead settings: a generated-code
cache that holds a query rotation's classes, and no Python call-site
capture around DataFrame/Column calls."""

from __future__ import annotations

from target_iceberg_spark.plans.registry import all_specs
from target_iceberg_spark.session import codegen_compiles

# The benchmark's short-query rotation: its classes outnumber Spark's
# default cache of 100 entries.
ROTATION = (
    "agg_group", "fn_string", "win_lag", "q3_shipping_priority",
    "join_broadcast", "agg_rollup", "agg_distinct", "join_semi",
    "join_asof",
)
DEFAULT_CACHE_ENTRIES = 100


def _invalidate_codegen_cache(spark) -> None:
    """Empty the JVM's generated-code cache, so the first pass compiles
    the rotation's whole working set whatever earlier tests ran."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def _rotation_compiles(spark, sf_dir: str) -> int:
    specs = all_specs()
    before = codegen_compiles(spark)
    for name in ROTATION:
        specs[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return codegen_compiles(spark) - before


def test_warm_rotation_compiles_no_code(spark, sf_smoke):
    _invalidate_codegen_cache(spark)
    first = _rotation_compiles(spark, sf_smoke)
    second = _rotation_compiles(spark, sf_smoke)
    assert first > DEFAULT_CACHE_ENTRIES, first
    assert second == 0, f"warm pass recompiled {second} of {first} classes"


def test_call_site_capture_is_off(spark, monkeypatch):
    from pyspark.errors import utils

    # pyspark caches the setting per process; re-read it from the session.
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False
