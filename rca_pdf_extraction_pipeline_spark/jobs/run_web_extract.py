"""spark-submit entry point for the raw-HTML extraction pipeline.

The web-corpus twin of ``run_extraction.py``: input is a parquet table
of raw markup pages ``(doc_id, site, html)`` (the crawl shape); output
is the engine's interleaved table ``(doc_id, spans:array<struct<kind,
text, media_ref, offset>>)`` — main content only by default
(``htmlparse.to_spans(content_only=True)``: sentinel-split DOM parse +
in-array Boilerpipe scoring, one shuffle-free map) — written through
the SAME snapshot-manifest checkpoint machinery as the PDF path:
bucket waves over ``xxhash64(doc_id)``, per-wave observed metrics
(docs/spans/bytes), file-level commits, crash-safe resume.

    spark-submit --py-files rca_pkg.zip \\
        rca_pdf_extraction_pipeline_spark/jobs/run_web_extract.py \\
        --input  <parquet dir of pages(doc_id, site, html)> \\
        --output <table dir>  [--all-blocks] [--n-buckets 64] [--waves 8]

Re-running after a failure continues from the snapshot manifest
without re-parsing completed buckets.  The output table feeds every
downstream interleaved operator (caption pairing, packing, asset
census, span diff) and ``jobs/run_extraction.py``-style sinks.
"""

from __future__ import annotations

import argparse
import json
import sys

from .run_extraction import validate_output_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Raw-HTML main-content extraction (Spark)")
    ap.add_argument("--input", required=True,
                    help="parquet path of pages(doc_id, site, html)")
    ap.add_argument("--output", required=True, help="output table dir")
    ap.add_argument("--all-blocks", action="store_true",
                    help="keep boilerplate blocks too (default: "
                         "main content only)")
    ap.add_argument("--resume", action="store_true",
                    help="resume from _snapshots.json (fresh runs also "
                         "skip completed buckets — flag is documentation)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--num-partitions", type=int, default=None,
                    help="whole-input partition budget (default 32): a wave "
                         "gets its buckets' share, >= one round of cores")
    ap.add_argument("--allowed-roots", nargs="*", default=None)
    args = ap.parse_args(argv)
    validate_output_path(args.output, args.allowed_roots)

    # import inside main so --py-files shipping is resolved by the time
    # executors deserialize tasks
    from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG
    from rca_pdf_extraction_pipeline_spark.operators import htmlparse
    from rca_pdf_extraction_pipeline_spark.plans import checkpoint
    from rca_pdf_extraction_pipeline_spark.session import get_spark

    cfg = DEFAULT_CONFIG
    if args.num_partitions:
        from dataclasses import replace
        cfg = replace(cfg, num_partitions=args.num_partitions)

    content_only = not args.all_blocks

    def _to_spans(df, _cfg):
        return htmlparse.to_spans(df, content_only=content_only)

    spark = get_spark("rca-web-extract-job")
    pages = spark.read.parquet(args.input)
    report = checkpoint.extract_with_checkpoint(
        pages, args.output, cfg=cfg, n_buckets=args.n_buckets,
        waves=args.waves, input_desc=args.input,
        transform=_to_spans,
        operation=f"htmlparse.to_spans(content_only={content_only})",
    )
    print(json.dumps(report))
    # no spark.stop(): spark-submit tears the session down at exit, and
    # in-process callers (tests) keep their shared session alive — the
    # run_pretrain/run_diff convention
    return 0


if __name__ == "__main__":
    sys.exit(main())
