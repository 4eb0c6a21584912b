#!/usr/bin/env python
"""spark-submit entry point for suite validation with checkpoint-resume.

    spark-submit --py-files ges.zip scripts/run_validation.py \
        --input /path/or/catalog.table --suite suite.json \
        --partition-by fmt --store /path/to/store --result-format SUMMARY

The flags are a checkpoint config (sources/checkpoint_config.py): --input
(--table, --snapshot-id) is the batch, --actions the action_list, and so on.
Without --checkpoint they are the whole config, taken literally (no $VAR
substitution); with --checkpoint every flag given overrides the document.
Either way the run is ``run_checkpoint``: acquire the batch (path or Iceberg
table, optionally snapshot-pinned), validate the suite with per-partition
verdicts, persist results + metrics + lineage to the store, and skip
partitions already completed for the same (suite, input fingerprint) on
re-run. Prints one JSON summary line; exits 0 iff every validated partition,
every resume-skipped partition's stored verdict and the global rollup
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--checkpoint", default=None,
        help="checkpoint config document (YAML/JSON): batch spec + suite + "
             "partition_by + store + resume policy + action_list in ONE "
             "file (reference checkpoint.yml shape; $VAR env substitution, "
             "template: merge). Every other flag given overrides the "
             "document's key; without it the flags alone are the config.",
    )
    p.add_argument("--input", default=None, help="path (parquet/csv/...) or catalog table")
    p.add_argument("--table", action="store_true", help="treat --input as a catalog table")
    p.add_argument("--snapshot-id", type=int, default=None, help="Iceberg snapshot pin")
    p.add_argument("--suite", default=None, help="suite JSON file")
    p.add_argument("--partition-by", default=None, help="comma-separated partition columns")
    p.add_argument("--store", default=None, help="results/metrics/lineage store root")
    p.add_argument("--result-format", default=None, help="default BASIC")
    p.add_argument("--run-id", default=None)
    p.add_argument("--no-resume", action="store_true", help="revalidate completed partitions")
    p.add_argument(
        "--persist", action="store_true", default=None,
        help="cache the batch across passes",
    )
    p.add_argument(
        "--actions", default=None,
        help="JSON file with a list of notification-action configs "
             "(either {'class_name': ..., **kwargs} or the reference's "
             "action_list entry {'name': ..., 'action': {...}}); fired per "
             "validated partition and at run completion",
    )
    p.add_argument(
        "--global-rollup", default=None,
        choices=["conjunction", "validate", "none"],
        help="global (partition_key-NULL) rows for URN chaining: driver-side "
             "conjunction merge (default), one true global validation pass, "
             "or none",
    )
    return p


def flag_config(args) -> dict:
    """The flags the user passed, as checkpoint config keys."""
    batch = {}
    if args.input:
        batch["table" if args.table else "path"] = args.input
    if args.snapshot_id is not None:
        batch["snapshot_id"] = args.snapshot_id
    doc = {
        "batch": batch or None,
        "suite": args.suite,
        "partition_by": args.partition_by,
        "store": args.store,
        "resume": False if args.no_resume else None,
        "result_format": args.result_format,
        "persist": args.persist,
        "global_rollup": args.global_rollup,
    }
    if args.actions:
        with open(args.actions) as f:
            doc["action_list"] = json.load(f)
    return {k: v for k, v in doc.items() if v is not None}


def main(argv=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    from pyspark.sql import SparkSession

    from great_expectations_spark.sources.checkpoint_config import (
        checkpoint_config_from_doc,
        load_checkpoint_config,
        run_checkpoint,
    )

    flags = flag_config(args)
    if args.checkpoint:
        cfg = load_checkpoint_config(args.checkpoint, runtime_overrides=flags)
    elif not args.input or not args.suite:
        parser.error("--input and --suite are required without --checkpoint")
    else:
        cfg = checkpoint_config_from_doc(flags)
    spark = SparkSession.builder.appName(f"ges-ckpt-{cfg.name}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    out = run_checkpoint(spark, cfg, run_id=args.run_id)
    print(json.dumps(out))
    return 0 if out["success"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
