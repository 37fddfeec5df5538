"""spark-submit driver for the extraction job.

Deployment shape from the north rule:

    spark-submit --master <cluster> \\
        --py-files ocr_document_recognition_service_spark.zip \\
        tools/submit_extract.py \\
        --input PAGES_DIR --output OUT_DIR --checkpoint CK_DIR \\
        [--run-id ID] [--partitions N] [--salt-threshold BYTES]

The package zip for --py-files is produced by
``python3 -m ocr_document_recognition_service_spark.pydeps ocr_document_recognition_service_spark.zip``.
Resumable: re-submitting after a failure processes only uncommitted
partitions of the same input snapshot.
"""

from __future__ import annotations

import argparse
import json
import uuid

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--salt-threshold", type=int, default=64 * 1024)
    args = ap.parse_args()

    # session comes from spark-submit (master/conf set on the CLI)
    spark = SparkSession.builder.appName("extract-pages").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ocr_document_recognition_service_spark import lineage

    run_id = args.run_id or f"submit-{uuid.uuid4().hex[:12]}"
    res = lineage.run_extraction(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        run_id,
        num_partitions=args.partitions,
        salt_threshold=args.salt_threshold,
    )
    print(json.dumps({"run_id": run_id, **res}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
