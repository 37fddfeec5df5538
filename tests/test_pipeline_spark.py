"""Through-Spark byte-identity tests (SURVEY §5.2 item 1).

The whole corpus — including salted/split, cp1251, PDF, malformed,
empty-body, and null-lang rows — must extract byte-identically to the
pure-Python oracle, through the real pipeline (scan → lang branches
with in-UDF salting → union).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_document_recognition_service_spark import extract_one, pipeline

pytestmark = pytest.mark.spark


def _expected(corpus_rows):
    return {
        r["url"]: extract_one.extract_document(r["html"], r["lang"])
        for r in corpus_rows
    }


@pytest.fixture(scope="module")
def extracted(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet)
    out = pipeline.extract_pages(df, salt_threshold=16 * 1024)
    return {row["url"]: row for row in out.collect()}


def test_row_count_preserved(extracted, corpus_rows):
    # no silent row drops (the reference's empty-crop guard bug, R2)
    assert len(extracted) == len(corpus_rows)


def test_byte_identical_text_per_url(extracted, corpus_rows):
    exp = _expected(corpus_rows)
    mismatches = [
        u
        for u, e in exp.items()
        if extracted[u]["text"] != e.text
    ]
    assert mismatches == []


def test_lang_and_blocks_match(extracted, corpus_rows):
    exp = _expected(corpus_rows)
    for u, e in exp.items():
        assert extracted[u]["lang"] == e.lang, u
        assert extracted[u]["n_blocks"] == e.n_blocks, u


def test_no_errors_on_corpus(extracted):
    errs = {u: r["error"] for u, r in extracted.items() if r["error"]}
    assert errs == {}


def test_salted_rows_actually_split(spark, pages_parquet, corpus_rows):
    """With a tiny threshold the split path must engage (and stay
    byte-identical — covered above); sanity-check the split itself."""
    df = spark.read.parquet(pages_parquet)
    n_over = df.filter(
        (F.length("html") > 16 * 1024)
        & F.col("lang").isin("en", "ru", "kk")
    ).count()
    assert n_over >= 3


def test_payload_cap_routes_to_error_row_not_split(spark, corpus_rows):
    """A row above max_payload_bytes must bypass the split branch and
    surface as a PayloadTooLarge error row (review finding: the cap
    previously never fired for splittable HTML)."""
    import pandas as pd

    from ocr_document_recognition_service_spark.pipeline import PAGES_SCHEMA

    rows = [dict(r) for r in corpus_rows[:20]]
    big = dict(rows[0])
    big["url"] = "https://en.example.org/doc/huge"
    big["html"] = b"<body>" + b"<p>w x</p>" * 12000 + b"</body>"  # ~120KB
    big["lang"] = "en"
    df = spark.createDataFrame(pd.DataFrame(rows + [big]), schema=PAGES_SCHEMA)
    out = {
        r["url"]: r
        for r in pipeline.extract_pages(
            df,
            salt_threshold=16 * 1024,
            max_payload_bytes=64 * 1024,
        ).collect()
    }
    assert len(out) == 21
    huge = out["https://en.example.org/doc/huge"]
    assert huge["text"] is None and huge["error"].startswith("PayloadTooLarge")
    # rows under the cap unaffected; any corpus row above it (the
    # engineered oversized row) is also correctly capped
    for r in rows:
        if len(r["html"]) <= 64 * 1024:
            assert out[r["url"]]["error"] is None, r["url"]
        else:
            assert out[r["url"]]["error"].startswith("PayloadTooLarge")


def test_carry_cols_pass_through(spark, pages_parquet):
    df = spark.read.parquet(pages_parquet).withColumn(
        "pid", F.pmod(F.xxhash64("url"), F.lit(8))
    )
    out = pipeline.extract_pages(
        df, salt_threshold=16 * 1024, carry_cols=("warc_ts", "pid")
    )
    got = out.select("url", "pid").collect()
    for row in got:
        # pid must still equal the url-hash partition after the pipeline
        pass
    check = (
        out.withColumn("pid2", F.pmod(F.xxhash64("url"), F.lit(8)))
        .filter(F.col("pid") != F.col("pid2"))
        .count()
    )
    assert check == 0


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join story: two tables bucketed by the join key join
    WITHOUT any exchange — the layout a 100 TB fact-fact join needs.
    (bucketBy requires saveAsTable; in-memory catalog, parquet source.)"""
    import uuid

    from pyspark.sql import functions as F

    # warehouse.dir is a static conf — managed tables land in the
    # default ./spark-warehouse; unique names + DROP TABLE clean up
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    a = spark.range(0, 10000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 10000).withColumn("vb", F.col("id") * 3)
    ta, tb = f"ta_{uuid.uuid4().hex[:8]}", f"tb_{uuid.uuid4().hex[:8]}"
    a.write.bucketBy(8, "id").sortBy("id").saveAsTable(ta)
    b.write.bucketBy(8, "id").sortBy("id").saveAsTable(tb)
    try:
        j = spark.table(ta).join(spark.table(tb), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 10000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_reused_worker_keeps_zip_indexes(spark, pages_parquet):
    """A reused Python worker that has run an extraction re-parses no
    zip index (pyspark.zip, the spark-core jar, the package zip) in
    later tasks: pyspark calls importlib.invalidate_caches() before
    every task, and pydeps.keep_zip_indexes makes that a stat per
    importer while the archive is unchanged."""

    def zip_index_ids(batches):
        """Per zip archive this worker has read, the identity of its cached
        directory; the references kept on ``sys`` stop ids being reused."""
        import os
        import sys
        import zipimport

        for _ in batches:
            pass
        idx = dict(zipimport._zip_directory_cache)
        sys.__dict__.setdefault("_zip_index_probe", []).append(idx)
        kernel = "ocr_document_recognition_service_spark.extract_one"
        yield pd.DataFrame(
            {
                "pid": os.getpid(),
                "extracted": kernel in sys.modules,
                "archive": list(idx),
                "index_id": [id(v) for v in idx.values()],
            }
        )

    df = spark.read.parquet(pages_parquet)
    pipeline.extract_pages(df, salt_threshold=16 * 1024).collect()
    n = 4 * spark.sparkContext.defaultParallelism
    probe = spark.range(n, numPartitions=n).mapInPandas(
        zip_index_ids,
        "pid long, extracted boolean, archive string, index_id long",
    )
    seen: dict[tuple[int, str], set[tuple[int, int]]] = {}
    for job in range(2):
        for r in probe.collect():
            if r["extracted"]:
                seen.setdefault((r["pid"], r["archive"]), set()).add(
                    (job, r["index_id"])
                )
    twice = {k: {i for _, i in v} for k, v in seen.items()
             if {j for j, _ in v} == {0, 1}}
    assert any(a.endswith("pyspark.zip") for _, a in twice), seen
    assert {k: v for k, v in twice.items() if len(v) > 1} == {}


def test_aqe_splits_skewed_join(spark):
    """Relational-side skew story: with AQE skew-join enabled (session
    default), a pathologically skewed join key is split at runtime —
    the executed SortMergeJoin reports skew=true."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # 95% of left rows share one key; right side is uniform
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum("v").alias("s"), F.count("*"))
        rows = j.collect()  # execute THIS dataset so ITS AQE plan finalizes
        assert rows[0][1] > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
