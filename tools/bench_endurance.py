"""Endurance evidence: one large extraction pass (default 1M docs).

Generates the corpus in-executor (per-row seeding — no driver
materialization), writes it lang-partitioned, runs the full pipeline to
a noop sink, and reports wall / docs-sec / error rows.  Appends the
result to BENCH/BASELINE.md.  Usage:

    python3 tools/bench_endurance.py [n_docs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_document_recognition_service_spark import gen_pages
    from ocr_document_recognition_service_spark.pipeline import extract_pages
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(
        app_name="endurance",
        cores=32,
        extra={
            "spark.sql.files.maxPartitionBytes": "16m",
            "spark.sql.files.openCostInBytes": "1048576",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="endurance_pages_")
    try:
        t0 = time.time()
        gen_pages.pages_df(spark, N_DOCS, parallelism=256).write.mode(
            "overwrite"
        ).partitionBy("lang").parquet(d + "/pages")
        t_gen = time.time() - t0

        src = spark.read.parquet(d + "/pages")
        out = extract_pages(src).select(
            "url", "lang", "n_blocks", "text", "error"
        )
        t0 = time.time()
        out.write.mode("overwrite").format("noop").save()
        t_cold = time.time() - t0

        stats = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "errors"
            ),
        ).collect()[0]
        result = {
            "n_docs": N_DOCS,
            "gen_sec": round(t_gen, 1),
            "extract_cold_sec": round(t_cold, 1),
            "docs_per_sec": round(N_DOCS / t_cold, 1),
            "rows": stats["rows"],
            "error_rows": int(stats["errors"]),
        }
        print(json.dumps(result))
        md = f"""## Endurance: latest run (tools/bench_endurance.py)

One {N_DOCS:,}-doc extraction pass — fold into the curated
sustained-throughput table above when coherent.

Full pipeline (lang routing, salting, FlateDecode/multi-page PDF parse,
normalization, reassembly) over a {N_DOCS:,}-doc lang-partitioned
corpus, 256 url-hash partitions, cold JVM: **{result['extract_cold_sec']} s**
({result['docs_per_sec']:,.0f} docs/sec), {result['rows']:,} output rows,
**{result['error_rows']} error rows** (corpus generation itself:
{result['gen_sec']} s).  Generated by `tools/bench_endurance.py {N_DOCS}`.
"""
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from _bench_md import replace_section

        replace_section(
            os.path.join(REPO, "BENCH", "BASELINE.md"),
            "## Endurance: latest run (tools/bench_endurance.py)",
            md,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
