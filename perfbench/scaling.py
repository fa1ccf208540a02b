"""``run_extraction_job`` at ``local[1]``, for the N→4N scaling figure.

Run as ``python3 -m perfbench.scaling <corpus> <work>`` from the checkout
root (the traced run does this). It warms the Python worker on
``WARM_DOCS`` documents of the corpus, times one job over the whole
corpus, and prints ``{"job_s": ...}`` as its last line.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: Documents of the unmeasured warm-up job.
WARM_DOCS = 200


def main(argv) -> int:
    corpus, work = argv
    from perfbench.sparkenv import start_session, stop_session
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    os.makedirs(work, exist_ok=True)
    spark = start_session(work, "local[1]")
    try:
        warm = spark.read.parquet(corpus).limit(WARM_DOCS)
        run_extraction_job(spark, warm, f"{work}/warm/output")
        t0 = time.perf_counter()
        run_extraction_job(
            spark, spark.read.parquet(corpus), f"{work}/job/output",
            lineage_path=f"{work}/job/lineage", metrics_path=f"{work}/job/metrics",
        )
        job_s = time.perf_counter() - t0
    finally:
        stop_session(spark)
    print(json.dumps({"job_s": job_s}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
