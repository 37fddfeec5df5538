"""The Spark extraction pipeline (SURVEY §7.1 steps 4–5).

Plan shape (all relational work stays in Catalyst; Python only inside
Arrow-batched pandas UDFs):

    scan pages (scan partitions, no input-side shuffle)
      → THREE lang-filtered branches (en/ru/kk) + a null-lang branch,
        each applying the vectorized extraction UDF with the branch's
        normalization constants — DataFrame-level routing, no UDF
        conditional on lang (north rule); inside the UDF, rows longer
        than the salt threshold are split at block boundaries,
        extracted per chunk and rejoined (salt-split, W2 semantics)
      → unionByName, html dropped immediately (column pruning past
        extraction)

The per-stage list materialization of the reference
(``core/pipelines/default/preprocessor.py:9`` etc.) and its
batch-size-1 recognize loop (``crnn.py:168``) are exactly what this
replaces: one lazy plan, Arrow record batches end to end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .charsets import LANGS

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("n_blocks", IntegerType(), True),
        StructField("lang_used", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

DEFAULT_SALT_THRESHOLD = 64 * 1024
DEFAULT_CHUNK_TARGET = 32 * 1024


def _extract_udf(
    lang: str | None,
    max_payload_bytes: int | None = None,
    salt_threshold: int | None = None,
    chunk_target: int = DEFAULT_CHUNK_TARGET,
):
    """Vectorized extraction for one language branch.

    Iterator form: the (cheap) kernel import happens once per Python
    worker, not per batch — the Spark analog of the reference's
    singleton pipeline instance (``core/app.py:25-33``).

    With *salt_threshold* set, oversized HTML rows take the salted
    kernel (``extract_document_split``: split at scope-safe block
    boundaries, extract per chunk, rejoin — proven byte-identical to
    unsplit extraction) INSIDE the same UDF pass.  Measured: the former
    explode→extract→groupBy salted branch ran its chunks in the same
    task anyway (no exchange between explode and extract), so it bought
    zero cross-task parallelism while costing a second scan+decode of
    every lang partition plus a reassembly aggregation.
    """

    @pandas_udf(EXTRACT_RESULT_TYPE)
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from ocr_document_recognition_service_spark.pydeps import (
            keep_zip_indexes,
        )

        keep_zip_indexes()
        from ocr_document_recognition_service_spark import extract_one

        cap = (
            max_payload_bytes
            if max_payload_bytes is not None
            else extract_one.MAX_PAYLOAD_BYTES
        )
        for payloads in batches:
            results = []
            for p in payloads:
                b = bytes(p) if p is not None else None
                if (
                    salt_threshold is not None
                    and b is not None
                    and salt_threshold < len(b) <= cap
                ):
                    r = extract_one.extract_document_split(
                        b, lang, chunk_target, max_bytes=cap
                    )
                else:
                    r = extract_one.extract_document(b, lang, max_bytes=cap)
                results.append(r)
            yield pd.DataFrame(
                {
                    "text": [r.text for r in results],
                    "n_blocks": [r.n_blocks for r in results],
                    "lang_used": [r.lang for r in results],
                    "error": [r.error for r in results],
                }
            )

    return extract


def extract_pages(
    pages: DataFrame,
    *,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    num_partitions: int | None = None,
    carry_cols: tuple[str, ...] = ("warc_ts",),
    max_payload_bytes: int | None = None,
) -> DataFrame:
    """Full extraction plan: returns (url, *carry_cols, lang, text,
    n_blocks, error) with ``lang`` = the language actually used.

    ``carry_cols`` pass through untouched (e.g. lineage partition id).
    ``num_partitions`` is accepted and ignored: extraction reads scan
    partitions, and ``bench.py`` and ``perfbench/`` still pass it.

    Shuffle placement (measured, not guessed): extraction reads SCAN
    partitions directly — ``maxPartitionBytes`` already yields even
    byte-sized splits, and per-document skew is handled by salting, so
    a pre-extraction shuffle adds nothing but moves every fat ``html``
    blob through shuffle write+read (and the 9-branch union re-reads
    that exchange per subtree: profiling showed 3–5× wall cost).  The
    url-hash repartition the lineage contract needs happens AFTER
    extraction, on the narrow text output (``lineage.run_extraction``),
    where the shuffled bytes are ~10× smaller.
    """
    from .pydeps import ensure_py_deps
    from . import extract_one as _x1

    ensure_py_deps(pages.sparkSession)  # --py-files analog for workers
    base = pages.select("url", *carry_cols, "lang", "html")
    cap = (
        max_payload_bytes
        if max_payload_bytes is not None
        else _x1.MAX_PAYLOAD_BYTES
    )

    def _narrow(
        df: DataFrame, ex_lang: str | None, salt: int | None = None
    ) -> DataFrame:
        """Apply the branch's extraction UDF, drop html immediately
        (column pruning past extraction, SURVEY §4)."""
        return df.withColumn(
            "ex", _extract_udf(ex_lang, cap, salt_threshold=salt)(F.col("html"))
        ).select(
            "url",
            *carry_cols,
            F.col("ex.lang_used").alias("lang"),
            F.col("ex.text").alias("text"),
            F.col("ex.n_blocks").alias("n_blocks"),
            F.col("ex.error").alias("error"),
        )

    # Plan shape: routing happens BEFORE extraction, so every row passes
    # the extract UDF exactly once — branch subtrees are disjoint;
    # nothing downstream re-triggers a UDF.  (The first cut reassembled
    # AFTER a shared `extracted` node; Spark then evaluated the whole
    # UDF subtree once per consumer — a 2× extraction cost that
    # profiling caught immediately.)  Salt-splitting happens INSIDE the
    # extract UDF (extract_document_split — the oracle itself): one
    # scan + one Arrow pass per lang partition, no reassembly shuffle.
    # Only known-lang rows are split: null-lang rows need a
    # whole-document language vote (R6), and the kernel itself refuses
    # to split PDFs, whose ordering is document-global (L2/L3).
    branches = [
        _narrow(base.filter(F.col("lang") == lang), lang, salt=salt_threshold)
        for lang in LANGS
    ]
    null_branch = base.filter(
        F.col("lang").isNull() | ~F.col("lang").isin(*LANGS)
    )
    branches.append(_narrow(null_branch, None))

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out
