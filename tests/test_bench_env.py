"""bench.py parses its numeric environment variables at start-up, so a
bad value exits at once instead of after a finished sweep."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "bench.py"

# Runs bench.py as __main__ and reports, on the way out, whether pyspark
# was ever imported (no import, no JVM).
_PROBE = """
import runpy, sys
try:
    runpy.run_path(sys.argv[1], run_name="__main__")
finally:
    print("pyspark imported:", "pyspark" in sys.modules)
"""


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_BENCH_BUDGET_SEC", "ten"),
        ("SPARK_GRAFT_BENCH_BUDGET_SEC", "nan"),
        ("SPARK_GRAFT_CPUS", "ten"),
    ],
)
def test_bad_env_value_exits_before_spark_starts(name, value):
    env = {**os.environ, name: value}
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(BENCH)],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert f"bench: {name} must be" in proc.stderr
    assert "pyspark imported: False" in proc.stdout
    assert time.monotonic() - t0 < 30
