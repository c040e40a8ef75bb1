"""tools/ab.py's patcher reaches import-time aliases (no Spark session)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import target_iceberg_spark.operators.pagerank as pr_mod
import target_iceberg_spark.plans.graph_ppr as graph_ppr

_spec = importlib.util.spec_from_file_location(
    "ab_tool", Path(__file__).resolve().parents[1] / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_patch_rebinds_import_time_aliases_and_restores():
    original = pr_mod.pagerank
    assert graph_ppr.pagerank is original
    undo = ab.apply_patch(
        "target_iceberg_spark.operators.pagerank:pagerank=lambda *a, **k: 'patched'"
    )
    try:
        assert pr_mod.pagerank is not original
        assert graph_ppr.pagerank is pr_mod.pagerank
        assert graph_ppr.pagerank() == "patched"
    finally:
        ab.restore(undo)
    assert pr_mod.pagerank is original
    assert graph_ppr.pagerank is original


def test_patch_scalar_and_dotted_attribute():
    import target_iceberg_spark.sources.tables as tables
    from pyspark.sql.classic.dataframe import DataFrame

    gate, ckpt = tables._FANOUT_MIN_BYTES, DataFrame.localCheckpoint
    undo = ab.apply_patch("target_iceberg_spark.sources.tables:_FANOUT_MIN_BYTES=1 << 60")
    undo += ab.apply_patch(
        "pyspark.sql.classic.dataframe:DataFrame.localCheckpoint=lambda self, eager=True: self"
    )
    try:
        assert tables._FANOUT_MIN_BYTES == 1 << 60
        assert DataFrame.localCheckpoint("df") == "df"
    finally:
        ab.restore(undo)
    assert tables._FANOUT_MIN_BYTES == gate
    assert DataFrame.localCheckpoint is ckpt
