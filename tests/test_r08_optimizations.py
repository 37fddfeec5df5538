"""Focused equivalence tests for the r8 optimization round.

Every optimization here changed an operator's INTERNALS while keeping
its results bit-identical; each test pins the new fast path against
the straightforward reference form on adversarial data (ties, short
arrays, empty strings) — the shapes the sf-corpus contract checks
don't necessarily exercise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from ocr_document_recognition_service_spark.operators import (
    dedup,
    metrics,
    similarity,
)


@pytest.fixture(scope="module")
def spark():
    from ocr_document_recognition_service_spark.session import build_session

    s = build_session(app_name="test-r08", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_score_pairs_staged_norms_bit_identical(spark):
    """_score_pairs stages norms per vector before the attach joins;
    the cosine must stay BIT-identical to the inline-norm reference
    (same doubles into the same multiply/divide/round)."""
    emb_rows = [
        (0, [0.1, -2.5, 3.25, 7.0]),
        (1, [1.5, 2.0, -0.25, 0.125]),
        (2, [1e-4, 1e4, -1e-4, -1e4]),
        (3, [4.0, 3.0, 2.0, 1.0]),
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id bigint, embedding array<float>")
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "query_id bigint, neighbor_id bigint"
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity._score_pairs(cand, emb).collect()
    }
    qa = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )
    ref = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cand.join(qa, "query_id")
        .join(qb, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                similarity.dot_arrays("qv", "nv")
                / (
                    similarity.norm_arrays("qv")
                    * similarity.norm_arrays("nv")
                ),
                4,
            ),
        )
        .collect()
    }
    assert got == ref  # exact, not approx


def test_best_match_per_key_agg_matches_window(spark):
    """max-struct argmax == row_number window on ties-by-score data
    (the tiebreak column decides), preserving all input columns."""
    rows = [
        # key 1: score tie at 9.0 -> tiebreak 2 wins over 5
        (1, 9.0, 5, "a"),
        (1, 9.0, 2, "b"),
        (1, 1.0, 1, "c"),
        # key 2: single row
        (2, 0.5, 7, "d"),
        # key 3: descending tiebreaks
        (3, 4.0, 9, "e"),
        (3, 4.0, 8, "f"),
        (3, 4.0, 10, "g"),
    ]
    df = spark.createDataFrame(rows, "k int, score double, tb int, tag string")
    got = {
        (r["k"], r["score"], r["tb"], r["tag"])
        for r in metrics.best_match_per_key(
            df, key="k", score="score", tiebreak="tb"
        ).collect()
    }
    w = Window.partitionBy("k").orderBy(
        F.col("score").desc(), F.col("tb").asc()
    )
    want = {
        (r["k"], r["score"], r["tb"], r["tag"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    }
    assert got == want
    # column order/names preserved
    assert (
        metrics.best_match_per_key(df, "k", "score", "tb").columns
        == df.columns
    )


def test_eval_report_lev_bound_exact(spark):
    """Thresholded levenshtein with a valid upper bound returns the
    exact distance — eval_report(lev_bound=...) == eval_report()."""
    rows = [
        ("kitten", "sitten"),
        ("", ""),
        ("eeee", "aaaa"),
        ("same", "same"),
        ("x" * 200 + "e", "x" * 200 + "a"),
    ]
    pairs = spark.createDataFrame(rows, "pred_text string, gt_text string")
    # bound: same-position substitution count (these pairs differ only
    # by substitutions), computed as a per-row column
    bound = F.length("gt_text") - F.length(
        F.replace(F.col("gt_text"), F.lit("a"), F.lit(""))
    ) + F.length("gt_text") - F.length(
        F.replace(F.col("gt_text"), F.lit("s"), F.lit(""))
    ) + F.length("gt_text") - F.length(
        F.replace(F.col("gt_text"), F.lit("k"), F.lit(""))
    )
    plain = metrics.eval_report(pairs).collect()[0]
    banded = metrics.eval_report(pairs, lev_bound=bound).collect()[0]
    for c in ("wrr", "crr", "cer", "wer", "harmonic_cer_wer"):
        assert plain[c] == banded[c], c


def test_capped_bucket_pairs_matches_capped_join(spark):
    """The one-pass window pair form == probe>index capped self-join,
    on a skewed bucket layout (one mega-bucket, one pair bucket, one
    singleton)."""
    rows = [("hot", i) for i in range(20)] + [
        ("pair", 100),
        ("pair", 101),
        ("solo", 200),
    ]
    df = spark.createDataFrame(rows, "bucket string, id bigint")
    for cap in (1, 3, 20):
        got = {
            (r["a"], r["b"])
            for r in similarity.capped_bucket_pairs(
                df, ["bucket"], "id", cap, a_name="a", b_name="b"
            ).collect()
        }
        idx = similarity.capped_index(df, ["bucket"], "id", cap)
        want = {
            (r["a"], r["b"])
            for r in df.alias("p")
            .join(
                idx.alias("i"),
                (F.col("p.bucket") == F.col("i.bucket"))
                & (F.col("p.id") > F.col("i.id")),
            )
            .select(F.col("i.id").alias("a"), F.col("p.id").alias("b"))
            .collect()
        }
        assert got == want, f"cap={cap}"


def test_simhash_bits_packed_parity_wide(spark):
    """The packed-digit simhash (incl. the two-value 63-bit split) must
    reproduce the per-digit bit extraction formula."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "x"), (3, "beta beta alpha")],
        "doc_id bigint, text string",
    )
    import hashlib

    for n_bits in (16, 32, 60, 63):
        got = {
            r["doc_id"]: r["sh"]
            for r in dedup.simhash_bits(df, n_bits, out="sh").collect()
        }
        for doc_id, text in [(1, "alpha beta gamma delta"), (2, "x"), (3, "beta beta alpha")]:
            sums = [0] * n_bits
            for w in dict.fromkeys(text.lower().split()):
                h = hashlib.md5(w.encode()).hexdigest()
                for k in range(n_bits):
                    bit = (int(h[k // 4], 16) >> (k % 4)) & 1
                    sums[k] += 1 if bit == 1 else -1
            expect = sum(2**k for k in range(n_bits) if sums[k] > 0)
            assert got[doc_id] == expect, (n_bits, doc_id)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_q1_money_columns_have_two_decimals(sf):
    """q1_pricing_summary sums money as longs scaled by 10⁴,
    trunc(x·10⁴ + 0.5), which equals its oracle's decimal(18,4)
    HALF_UP cast only while every value has at most 2 decimals (x·10⁴
    then sits far from any .5 boundary).  A data generator that adds
    decimals must fail here instead of silently shifting the sums."""
    import os

    import numpy as np
    import pyarrow.parquet as pq
    from conftest import SF_DIR

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    path = os.path.join(os.path.dirname(SF_DIR), sf, "lineitem.parquet")
    t = pq.read_table(path, columns=cols)
    assert t.num_rows > 0
    for c in cols:
        x = t.column(c).to_numpy()
        off = x[np.round(x, 2) != x]
        assert not len(off), f"{sf} {c}: {off[:5]}"
