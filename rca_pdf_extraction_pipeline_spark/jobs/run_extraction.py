"""spark-submit entry point for the extraction pipeline.

CLI mirror of the reference deliverable
(``python -m src.core_analysis <db> --output <dir> --original-headers``,
reference src/core_analysis.py:1001-1061), cluster-shaped:

    spark-submit --py-files rca_pkg.zip \\
        rca_pdf_extraction_pipeline_spark/jobs/run_extraction.py \\
        --input  <parquet dir of docs(doc_id, spans)> \\
        --output <table dir>  [--resume] [--n-buckets 64] [--waves 8]

Build the zip with ``python -m rca_pdf_extraction_pipeline_spark.jobs.package``
or let ``session.get_spark`` ship it automatically when driving
in-process. Running again with ``--resume`` continues from the snapshot
manifest without reprocessing completed buckets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

#: F9 output-path allowlist (reference core_analysis.py:44-51) — the
#: Spark deployment's analogue of the reference's project/temp roots;
#: override per-run with --allowed-roots.
DEFAULT_ALLOWED_OUTPUT_ROOTS = [
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "/tmp/",
]


def validate_output_path(output_path: str,
                         allowed_roots: list[str] | None = None) -> bool:
    """F9 (reference core_analysis.py:751-768): ensure the output path is
    within allowed directories.  Same contract as the reference —
    returns True if valid, raises ValueError otherwise, matching its
    abspath-prefix semantics and message text."""
    roots = allowed_roots if allowed_roots is not None \
        else DEFAULT_ALLOWED_OUTPUT_ROOTS
    abs_path = os.path.abspath(output_path)
    for allowed_root in roots:
        allowed_abs = os.path.abspath(allowed_root)
        if abs_path.startswith(allowed_abs):
            return True
    raise ValueError(
        f"Output path '{output_path}' outside allowed directories")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="RCA extraction pipeline (Spark)")
    ap.add_argument("--input", required=True,
                    help="parquet path of docs(doc_id, spans)")
    ap.add_argument("--output", required=True, help="output table dir")
    ap.add_argument("--resume", action="store_true",
                    help="resume from _snapshots.json (default: fresh runs "
                         "also skip completed buckets — flag is documentation)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--num-partitions", type=int, default=None,
                    help="whole-input partition budget (default 32): a wave "
                         "gets its buckets' share, >= one round of cores")
    ap.add_argument("--allowed-roots", nargs="*", default=None,
                    help="output-path allowlist roots (F9 guard; default: "
                         "repo root + /tmp/)")
    args = ap.parse_args(argv)
    validate_output_path(args.output, args.allowed_roots)

    # import inside main so --py-files shipping is resolved by the time
    # executors deserialize tasks
    from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG
    from rca_pdf_extraction_pipeline_spark.plans import checkpoint
    from rca_pdf_extraction_pipeline_spark.session import get_spark

    cfg = DEFAULT_CONFIG
    if args.num_partitions:
        from dataclasses import replace
        cfg = replace(cfg, num_partitions=args.num_partitions)

    spark = get_spark("rca-extraction-job")
    docs = spark.read.parquet(args.input)
    report = checkpoint.extract_with_checkpoint(
        docs, args.output, cfg=cfg, n_buckets=args.n_buckets,
        waves=args.waves, input_desc=args.input,
    )
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
