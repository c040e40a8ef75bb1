"""CLI entry point — parity with the reference's primary UX.

The reference is consumed as a console script in a Unix pipe
(reference pyproject.toml:52 ``target-iceberg =
'target_iceberg.target:TargetIceberg.cli'``; target.py:64-65), i.e.::

    tap-anything | target-iceberg --config config.json

This module provides the same surface for the Spark engine::

    tap-anything | python -m target_iceberg_spark --config config.json
    tap-anything | target-iceberg-spark --config config.json   (installed)

Config file keys: the reference's 8 properties are accepted verbatim
(reference target.py:15-59 — add_record_metadata, aws_access_key_id,
aws_secret_access_key, s3_endpoint, s3_bucket, iceberg_rest_uri,
iceberg_catalog_name, iceberg_catalog_namespace_name), plus engine
extensions: ``warehouse`` (filesystem warehouse root, used in parquet
mode and as the local default), ``partition_by`` / ``sort_by`` (write
clustering), ``max_batch_size``, ``upsert_on_keys``.

Per the Singer spec, STATE values are re-emitted on STDOUT once the
records preceding them are durably written (at-least-once); logs and
the final per-stream summary go to stderr.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Any, TextIO

from target_iceberg_spark.catalog import IcebergCatalogConfig, iceberg_catalog_conf
from target_iceberg_spark.session import get_spark
from target_iceberg_spark.sources.singer import SingerTarget
from target_iceberg_spark.writer import StreamWriter, WriterConfig


def load_config(path: str) -> dict[str, Any]:
    with open(path) as fh:
        cfg = json.load(fh)
    if not isinstance(cfg, dict):
        raise SystemExit(f"config {path}: expected a JSON object")
    return cfg


def build_target(
    spark: Any, cfg: dict[str, Any], state_out: TextIO, mode: str = "auto"
) -> SingerTarget:
    """Wire config → writer → listen-loop target (pure of argv/stdin so
    tests can drive it directly)."""
    if cfg.get("aws_access_key_id") and cfg.get("aws_secret_access_key"):
        cat = IcebergCatalogConfig(
            aws_access_key_id=cfg["aws_access_key_id"],
            aws_secret_access_key=cfg["aws_secret_access_key"],
            s3_endpoint=cfg.get("s3_endpoint", ""),
            s3_bucket=cfg.get("s3_bucket", "lakehouse"),
            iceberg_rest_uri=cfg.get("iceberg_rest_uri", "http://localhost:8181"),
            iceberg_catalog_name=cfg.get("iceberg_catalog_name", "lakehouse"),
            iceberg_namespace=cfg.get("iceberg_catalog_namespace_name", "default"),
        )
        for key, value in iceberg_catalog_conf(cat).items():
            try:  # catalog conf is runtime-settable on Spark 3.4+/4.x
                spark.conf.set(key, value)
            except Exception:
                print(f"warning: could not set {key} at runtime", file=sys.stderr)

    writer = StreamWriter(
        spark,
        WriterConfig(
            warehouse=cfg.get("warehouse", "warehouse"),
            namespace=cfg.get("iceberg_catalog_namespace_name", "default"),
            catalog=cfg.get("iceberg_catalog_name", "lakehouse"),
            add_record_metadata=bool(cfg.get("add_record_metadata", False)),
            partition_by=tuple(cfg.get("partition_by", ())),
            sort_by=tuple(cfg.get("sort_by", ())),
        ),
        mode=mode,
    )

    def emit_state(state: dict[str, Any]) -> None:
        # Singer contract: the target re-emits STATE on stdout once all
        # preceding records are durable (reference inherits this from
        # the SDK listen loop, target.py:12)
        print(json.dumps(state), file=state_out, flush=True)

    return SingerTarget(
        spark,
        writer,
        max_batch_size=int(cfg.get("max_batch_size", 10_000)),
        upsert_on_keys=bool(cfg.get("upsert_on_keys", False)),
        state_callback=emit_state,
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="target-iceberg-spark",
        description="Singer target: JSONL messages on stdin -> engine tables.",
    )
    parser.add_argument("--config", required=True, help="JSON config file")
    parser.add_argument(
        "--input",
        default="-",
        help="read Singer messages from this file instead of stdin",
    )
    parser.add_argument(
        "--mode",
        default="auto",
        choices=("auto", "iceberg", "parquet"),
        help="writer backend (auto: iceberg when the runtime jar + catalog "
        "conf are present, else parquet warehouse)",
    )
    args = parser.parse_args(argv)

    cfg = load_config(args.config)
    # progress bars would interleave with the per-stream summary on stderr
    spark = get_spark(
        "target-iceberg-spark-cli",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    target = build_target(spark, cfg, state_out=sys.stdout, mode=args.mode)

    if args.input == "-":
        summary = target.run(sys.stdin)
    else:
        with open(args.input) as fh:
            summary = target.run(fh)

    for stream, stats in summary.items():
        print(
            f"{stream}: {stats['records']} records in {stats['batches']} batches",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
