#!/usr/bin/env python3
"""spark-submit entry point for the entity-resolution pipeline.

    spark-submit --py-files dist/healthcare_entity_resolution_spark.zip \
        run_pipeline.py --input /data/files_parquet --output /runs/run1 \
        [--resume] [--cores 32]

``--input`` is a parquet/Iceberg path with columns
(repo, path, commit, lang, content) — the engine's input contract
(BASELINE input_hint).  ``--output`` is the run directory that receives
stage snapshots (resumable with ``--resume``), lineage events, and final
entity/assignment tables.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose snapshots already exist in --output")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (ignored under a real cluster master)")
    args = ap.parse_args()

    from healthcare_entity_resolution_spark.pipeline import (
        CODE_STAGES,
        documents_as_files,
        resolve_files,
    )
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog
    from healthcare_entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="her_pipeline", cores=args.cores)
    lineage = LineageLog(run_dir=args.output)
    raw = spark.read.parquet(args.input)
    need = {"repo", "path", "commit", "lang", "content"}
    if not need <= set(raw.columns):
        if {"doc_id", "text"} <= set(raw.columns):
            # documents-shaped input (the testdata tables): adapt in place
            from pyspark.sql import functions as F

            for col, default in (("lang", "unknown"), ("source", "docs")):
                if col not in raw.columns:
                    raw = raw.withColumn(col, F.lit(default))
            raw = documents_as_files(raw)
            lineage.log("input.adapted", shape="documents")
        else:
            raise SystemExit(
                f"--input must have columns {sorted(need)} (files contract) "
                f"or (doc_id, text[, lang, source]) (documents contract); "
                f"got {raw.columns}"
            )

    if not args.resume:
        # fresh run: clear prior snapshots so every stage recomputes
        import shutil

        for name in CODE_STAGES:
            shutil.rmtree(os.path.join(args.output, name), ignore_errors=True)

    out = resolve_files(spark, raw, lineage=lineage, run_dir=args.output)
    n = out["assignments"].count()

    from healthcare_entity_resolution_spark.plans.report_html import (
        write_run_report,
    )

    report = write_run_report(
        os.path.join(args.output, "report.html"),
        assignments=out["assignments"],
        classified=out["classified"],
        lineage_events=lineage.events,
    )
    summary = {"assignments": n,
               "output": args.output,
               "report": report,
               "stages": [e["stage"] for e in lineage.events]}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
