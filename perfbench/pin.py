"""Print the pinned reference digest of ``pdf_extract``.

    python3 perfbench/pin.py

Builds the workload's input for two seeds, runs one uncheckpointed
``extract_documents`` pass over each, and prints the golden spans' hash
and the digest, which must be the same for both seeds; paste them into
``PdfExtract.GOLDEN_HASH`` and ``PdfExtract.REFERENCE``.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

from run import ROOT, pin_environment


def main() -> int:
    work = ROOT / ".bench_work" / "pin"
    pin_environment(work)
    from rca_pdf_extraction_pipeline_spark.session import get_spark
    from workloads import PdfExtract

    spark = get_spark("perfbench-pin")
    try:
        got = set()
        for seed in (1, 2):
            wl = PdfExtract(spark, seed)
            wl.build_inputs(work / f"inputs-{seed}")
            wl.GOLDEN_HASH = wl.golden_hash()
            got.add(wl.reference_pass())
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"GOLDEN_HASH = {wl.GOLDEN_HASH}")
    print(f"REFERENCE = {got.pop()}" if len(got) == 1
          else f"seeds disagree: {got}")
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    sys.exit(main())
