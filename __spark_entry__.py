"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: wraps the sf0.001 documents table into
synthetic HTML pages, runs the REAL extraction pipeline (boilerplate
strip → normalization → salting path), and reports per-source
byte-identity of the round trip — the engine's core invariant, as a
single DataFrame.

``queries()`` / ``oracle_sql()`` — the operator registry from
``ocr_document_recognition_service_spark.plans.queries`` (SURVEY §2 inventory: scans,
filters, scalar functions, metric aggregates, windows, set ops, dedup
suite, similarity search, text analysis, extraction showcases).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ocr_document_recognition_service_spark.pipeline import extract_pages
    from ocr_document_recognition_service_spark.sources.tables import load

    docs = load(spark, SF0001, "documents")
    # build a pages table: known main content wrapped in boilerplate
    html = F.concat(
        F.lit(
            '<html><head><meta charset="utf-8"><title>t</title></head><body>'
            '<nav><ul><li><a href="/">home</a></li><li><a href="/x">links'
            "</a></li></ul></nav>"
            '<div class="content"><h1>Doc</h1><p>'
        ),
        F.col("text"),
        F.lit('</p></div><footer><a href="/c">(c) footer</a></footer>'
              "</body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://en.example.org/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("en").alias("lang"),
        F.col("source"),
        F.col("text").alias("src_text"),
    )
    out = extract_pages(
        pages, salt_threshold=64 * 1024,
        carry_cols=("warc_ts", "source", "src_text"),
    )
    # expected main text: "Doc" heading + whitespace-collapsed body
    expected = F.concat(
        F.lit("Doc\n"), F.trim(F.regexp_replace(F.col("src_text"), r"\s+", " "))
    )
    return (
        out.withColumn(
            "match", F.when(F.col("text") == expected, 1).otherwise(0)
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("match").alias("n_byte_identical"),
            F.round(F.avg("match"), 4).alias("match_rate"),
            F.sum("n_blocks").alias("total_blocks"),
            F.sum(F.length(F.col("text"))).alias("total_chars"),
        )
        .orderBy("source")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from ocr_document_recognition_service_spark.plans import queries as Q

    return Q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each SQL-expressible query."""
    from ocr_document_recognition_service_spark.plans import queries as Q

    return Q.oracle_sql()
