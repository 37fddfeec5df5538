"""Dedup/ANN endurance-scale evidence (r4 verdict item 7): run the
capped candidate joins (dd3 MinHash-LSH, dd5 embedding near-dup, dd8
cluster assembly) over synthetic corpora up to 1M docs and record
pairs emitted, pairs/doc and wall — direct evidence the capped joins
stay ~linear at 20x the bench scale.

Corpus construction (all in-executor, zero driver materialization):
15% of docs sit in near-dup clusters of 3 (same seed text/base vector,
small per-member variation), the rest unique — so the TRUE pair count
is a constant fraction of N and a linear join shape must show ~flat
pairs/doc.  Embedding hyperplanes auto-scale via planes_for_corpus
(the r5 default path), so expected bucket population stays ~constant
as N grows.

Rewrites ONLY its own section of BENCH/BASELINE.md.  Usage:

    python3 tools/bench_dedup_scale.py [N ...]   (default 100k 300k 1M)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = (
    [int(a.replace("_", "")) for a in sys.argv[1:]]
    if len(sys.argv) > 1
    else [100_000, 300_000, 1_000_000]
)
SECTION = "## Dedup/ANN at endurance scale (capped joins stay linear)"


def synth_docs(spark, n: int):
    """(doc_id, text): doc_id%20 < 3 => cluster of 3 sharing a seed
    (near-dup: 24 shared tokens + 1 distinct), else unique text."""
    from pyspark.sql import functions as F

    df = spark.range(n).withColumnRenamed("id", "doc_id")
    seed = F.when(
        F.col("doc_id") % 20 < 3, (F.col("doc_id") / 20).cast("long") * 20
    ).otherwise(F.col("doc_id"))
    base = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(24)),
            lambda j: F.concat(
                F.lit("tok"), F.pmod(F.hash(seed * 131 + j), F.lit(8000))
            ),
        ),
    )
    tail = F.when(
        F.col("doc_id") % 20 < 3,
        F.concat(F.lit("dup"), F.col("doc_id") % 20),
    ).otherwise(F.concat(F.lit("u"), F.col("doc_id")))
    return df.select("doc_id", F.concat(base, F.lit(" "), tail).alias("text"))


def synth_embeddings(spark, n: int):
    """(vec_id, embedding[64]): cluster members share a base vector
    with 1e-4-scale jitter (cosine ~ 1), others pseudo-random.
    Entries are CENTERED in [-0.5, 0.5): all-positive vectors would
    collapse into one hyperplane sign-bucket (sign(dot) ~ sign of the
    plane's weight sum) and measure the cap, not the operator."""
    from pyspark.sql import functions as F

    df = spark.range(n).withColumnRenamed("id", "vec_id")
    seed = F.when(
        F.col("vec_id") % 20 < 3, (F.col("vec_id") / 20).cast("long") * 20
    ).otherwise(F.col("vec_id"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            F.pmod(F.hash(seed * 977 + j), F.lit(1000)).cast("double")
            / 1000.0
            - 0.5
            + (F.col("vec_id") % 20).cast("double") * 0.0001
        ).cast("float"),
    )
    return df.select("vec_id", emb.alias("embedding"))


def main() -> int:
    from ocr_document_recognition_service_spark.operators import dedup
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(
        app_name="dedup-scale",
        cores=32,
        extra={"spark.sql.shuffle.partitions": "64"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for n in SCALES:
        docs = synth_docs(spark, n).repartition(64)
        docs.cache().count()
        t0 = time.time()
        pairs = dedup.lsh_candidate_pairs(docs, shingle="w3", bucket_cap=64)
        pairs_cached = pairs.cache()
        n_pairs = pairs_cached.count()
        t_dd3 = time.time() - t0

        t0 = time.time()
        n_comp_docs = dedup.dup_components(pairs_cached).count()
        t_dd8 = time.time() - t0
        pairs_cached.unpersist()
        docs.unpersist()

        emb = synth_embeddings(spark, n).repartition(64)
        emb.cache().count()
        t0 = time.time()
        n_epairs = dedup.embedding_dup_pairs(
            emb, threshold=0.99, bucket_cap=64, n_vectors=n
        ).count()
        t_dd5 = time.time() - t0

        # dd10 SemDeDup at the AT-SCALE quantizer config (r6 verdict
        # #1): cells = N/32 (headroom rule), two-level O(sqrt k)/row
        # assignment (64*k sample rule clips at N at this sizing, so
        # training is full-corpus), probe-side
        # n_probe=2.  The r6 flat quantizer was O(N·k) = O(N²/32) here
        # — this leg is the direct evidence the rewrite scales.
        # cap = 4x mean cell and coarse_probe=3 — the recall-measured
        # defaults (bench_recall: cap=64 truncated 2.5x-mean skewed
        # cells; cp=2 left assignment errors): recall 1.000 at 100k
        k10 = max(8, n // 32)
        t0 = time.time()
        n_dd10 = (
            dedup.semantic_dedup(
                emb, n_cells=k10, iters=1, threshold=0.99, cell_cap=128,
                n_probe=2, sample_cap=None, two_level=True, coarse_probe=3,
            )
            .filter("is_dup")
            .count()
        )
        t_dd10 = time.time() - t0
        emb.unpersist()

        rows.append(
            {
                "docs": n,
                "dd3_pairs": n_pairs,
                "dd3_pairs_per_doc": round(n_pairs / n, 3),
                "dd3_wall": round(t_dd3, 1),
                "dd8_docs_in_components": n_comp_docs,
                "dd8_wall": round(t_dd8, 1),
                "dd5_pairs": n_epairs,
                "dd5_pairs_per_doc": round(n_epairs / n, 3),
                "dd5_wall": round(t_dd5, 1),
                "dd10_dups": n_dd10,
                "dd10_dups_per_doc": round(n_dd10 / n, 3),
                "dd10_wall": round(t_dd10, 1),
            }
        )
        print(json.dumps(rows[-1]))

    # flatness: pairs/doc at the largest scale within 2x of the smallest
    for key in ("dd3_pairs_per_doc", "dd5_pairs_per_doc", "dd10_dups_per_doc"):
        lo, hi = rows[0][key], rows[-1][key]
        assert hi <= 2 * lo + 0.01, f"{key} grew {lo} -> {hi}: not linear"

    md_rows = "\n".join(
        f"| {r['docs']:,} | {r['dd3_pairs']:,} | {r['dd3_pairs_per_doc']} | "
        f"{r['dd3_wall']} | {r['dd8_docs_in_components']:,} | {r['dd8_wall']} | "
        f"{r['dd5_pairs']:,} | {r['dd5_pairs_per_doc']} | {r['dd5_wall']} | "
        f"{r['dd10_dups']:,} | {r['dd10_wall']} |"
        for r in rows
    )
    dd10_growth = (
        round(
            (rows[-1]["dd10_wall"] / max(rows[0]["dd10_wall"], 0.1))
            / (rows[-1]["docs"] / rows[0]["docs"]),
            2,
        )
        if len(rows) > 1
        else 1.0
    )
    md = f"""{SECTION}

`tools/bench_dedup_scale.py`: synthetic corpora (15% of docs in
near-dup clusters of 3, rest unique; embeddings likewise), capped
joins as shipped (bucket_cap=64; dd5 hyperplanes auto-scaled via
planes_for_corpus so expected bucket size stays constant).  Pairs/doc
stays ~flat from 100k to 1M docs — the candidate volume scales with
the corpus, not its square (asserted <= 2x drift).  dd10 runs the r7
AT-SCALE SemDeDup config (cells = N/32, two-level numpy
assignment — full-corpus Lloyd: the 64-per-centroid sample rule
clips at N at this sizing — cap=128=4x-mean, coarse_probe=3, P=2) — its per-N wall growth factor
vs perfectly-linear is {dd10_growth}x across this sweep (the r6 flat
quantizer was O(N²/32) under the same sizing rule and took 395 s at
the 100k point alone):

| docs | dd3 pairs | dd3 pairs/doc | dd3 wall (s) | dd8 docs in clusters | dd8 wall (s) | dd5 pairs | dd5 pairs/doc | dd5 wall (s) | dd10 dups | dd10 wall (s) |
|---|---|---|---|---|---|---|---|---|---|---|
{md_rows}

local[32]; wall is a single warm-session sample on a shared host —
read the pairs/doc columns (deterministic), not absolute seconds.
"""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from _bench_md import replace_section

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    replace_section(path, SECTION, md)
    print(f"updated {path} ({SECTION!r})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
