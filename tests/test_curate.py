"""Curation pipeline: composition invariants."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_document_recognition_service_spark import gen_pages
from ocr_document_recognition_service_spark.operators.curate import curate
from ocr_document_recognition_service_spark.pipeline import (
    PAGES_SCHEMA,
    extract_pages,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def curated(spark):
    rows = list(gen_pages.gen_rows(250))
    # append an exact duplicate page under a later url (dedup bait)
    dup = dict(rows[3])
    dup["url"] = "https://zz-dup.example.org/doc/copy"
    rows.append(dup)
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    extracted = extract_pages(pages, salt_threshold=16 * 1024)
    return rows, curate(extracted, min_tokens=10, min_score=0.2, n_per_lang=500)


def test_monotonic_reduction_and_gates(curated, spark):
    rows, out = curated
    c = out["curated"]
    n = c.count()
    assert 0 < n <= len(rows)
    # gates hold on every surviving row
    bad = c.filter(
        (F.col("n_tokens") < 10) | (F.col("quality_score") < 0.2)
    ).count()
    assert bad == 0


def test_exact_duplicate_removed(curated):
    rows, out = curated
    urls = {r["url"] for r in out["curated"].collect()}
    # the duplicate url sorts after the original → dropped; original kept
    assert "https://zz-dup.example.org/doc/copy" not in urls
    assert rows[3]["url"] in urls or rows[3]["lang"] is None


def test_split_disjoint_exhaustive(curated):
    _, out = curated
    n = out["curated"].count()
    tr, va = out["train"].count(), out["val"].count()
    assert tr + va == n
    overlap = out["train"].select("url").intersect(
        out["val"].select("url")
    ).count()
    assert overlap == 0


def test_stats_shape_and_determinism(curated, spark):
    rows, out = curated
    stats = {r["lang"]: r for r in out["stats"].collect()}
    assert set(stats) <= {"en", "ru", "kk"}
    total = sum(r["n_docs"] for r in stats.values())
    assert total == out["curated"].count()

    # a genuinely fresh curate() invocation over freshly-built input
    # must yield the identical curated set (determinism contract)
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    extracted = extract_pages(pages, salt_threshold=16 * 1024)
    out2 = curate(extracted, min_tokens=10, min_score=0.2, n_per_lang=500)
    first = {r["url"] for r in out["curated"].collect()}
    second = {r["url"] for r in out2["curated"].collect()}
    out2["curated"].unpersist()
    assert first == second


def test_stage_registry_composes_custom_order(spark):
    """The config-driven stage registry (Hydra _target_ analog) must
    (a) reproduce curate's front half from its config list and
    (b) compose a custom order with custom params."""
    from pyspark.sql import functions as F

    from ocr_document_recognition_service_spark.operators import stages

    rows = [
        ("u%02d" % i, "ru" if i % 2 else "en",
         " ".join("w%d_%d" % (i, j) for j in range(25))
         + " contact bob@example.com now",
         2, None)
        for i in range(30)
    ] + [("uerr", "en", "", 0, "boom")]
    df = spark.createDataFrame(
        rows, "url string, lang string, text string, n_blocks int, error string"
    )

    # (a) default config == curate's front half
    out = stages.run_pipeline(df, stages.curate_config(
        min_tokens=5, min_score=0.0, n_per_lang=100))
    assert out.count() == 30  # error row dropped, no dups to remove

    # (b) custom order: lang filter first, redact before sampling,
    # tighter per-group cap
    cfg = [
        {"stage": "drop_errors"},
        {"stage": "lang_filter", "langs": ["en"]},
        {"stage": "quality_gate", "min_tokens": 5, "min_score": 0.0},
        {"stage": "redact"},
        {"stage": "balanced_sample", "group_col": "lang",
         "order_col": "url", "n_per_group": 4},
    ]
    got = stages.run_pipeline(df, cfg)
    res = got.orderBy("url").collect()
    assert [r["url"] for r in res] == ["u00", "u02", "u04", "u06"]
    assert all("<EMAIL>" in r["text"] for r in res)
    assert all(r["lang"] == "en" for r in res)

    # unknown stage fails loud
    import pytest as _pytest
    with _pytest.raises(KeyError):
        stages.run_pipeline(df, [{"stage": "nope"}])


def test_full_pipeline_composes_from_config(spark):
    """r4: the ENTIRE curation — front half, projection, split, stats —
    runs as config lists through the stage registry and reproduces
    curate()'s outputs exactly (split included)."""
    from ocr_document_recognition_service_spark.operators import curate as C
    from ocr_document_recognition_service_spark.operators import stages

    rows = list(gen_pages.gen_rows(120))
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=PAGES_SCHEMA)
    extracted = extract_pages(pages, salt_threshold=16 * 1024)
    cfg = stages.full_curate_config(
        min_tokens=5, min_score=0.0, n_per_lang=50, seed=7
    )
    base = stages.run_pipeline(extracted, cfg["curated"]).persist()
    train = stages.run_pipeline(base, cfg["train"])
    val = stages.run_pipeline(base, cfg["val"])
    stats = stages.run_pipeline(base, cfg["stats"])

    ref = C.curate(
        extracted, min_tokens=5, min_score=0.0, n_per_lang=50, seed=7
    )
    assert {r["url"] for r in base.collect()} == {
        r["url"] for r in ref["curated"].collect()
    }
    t, v = {r["url"] for r in train.collect()}, {r["url"] for r in val.collect()}
    assert t == {r["url"] for r in ref["train"].collect()}
    assert v == {r["url"] for r in ref["val"].collect()}
    assert t.isdisjoint(v) and (t | v) == {r["url"] for r in base.collect()}
    assert {tuple(r) for r in stats.collect()} == {
        tuple(r) for r in ref["stats"].collect()
    }


def test_decontaminate_stage_drops_leaked_docs(spark, tmp_path):
    """r5: the decontaminate stage anti-joins docs sharing any word
    8-gram with the probe parquet — a config-serializable benchmark
    scrub composable anywhere in the curation pipeline."""
    from ocr_document_recognition_service_spark.operators import stages

    bench_text = "q one two three four five six seven eight nine ten"
    probe = spark.createDataFrame(
        [(100, bench_text)], "doc_id: long, text: string"
    )
    probe_path = str(tmp_path / "benchmark.parquet")
    probe.write.parquet(probe_path)

    docs = spark.createDataFrame(
        [
            (0, "clean document with entirely original content here ok"),
            (1, "leaked one two three four five six seven eight tail"),
            (2, "one two three four five six seven only shares seven"),
        ],
        "doc_id: long, text: string",
    )
    cfg = [{"stage": "decontaminate", "probe_parquet": probe_path, "n": 8}]
    kept = {r["doc_id"] for r in stages.run_pipeline(docs, cfg).collect()}
    assert kept == {0, 2}  # doc 1 carries an 8-gram of the benchmark
