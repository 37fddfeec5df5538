"""Measured ANN/dedup recall at scale (r5 verdict item 5).

`bench_dedup_scale.py` proves the capped joins stay LINEAR; this tool
proves they still FIND things: sampled brute-force ground truth →
recall of the shipped operators, so cap/probe defaults become a
measured, tunable quantity instead of an anecdote.

Method
------
Pair recall (dd3 MinHash-LSH candidates, dd5 embedding near-dup, dd7
SimHash): corpus of 100k synthetic docs/vectors (15% in near-dup
clusters of 3 — the bench_dedup_scale generators).  A ~1.5k-doc sample
of WHOLE 20-doc blocks (so clusters arrive complete and the sample
contains real positive pairs) gets an exact brute-force all-pairs
ground truth per operator's own measure — w3-shingle Jaccard ≥ 0.5,
cosine ≥ 0.99, 32-bit SimHash Hamming ≤ 3 — computed driver-side
(≤ ~1.1M pairs).  The operator then runs over the FULL corpus at its
shipped caps (bucket_cap/cell_cap 64; hyperplanes auto-scaled via
planes_for_corpus, the documented at-scale contract), its output is
restricted to sample×sample, and recall = found / true.

dd7 runs TWICE: at the registry's 32-bit signature (the measured cost
of an unscaled width — 8-bit bands collapse 100k docs into 256
buckets and the cap truncates) and at the corpus-scaled width from
``simhash_width_for_corpus`` (the documented knob, added BECAUSE this
tool measured the collapse).

ANN recall@k (sim3 LSH, sim5 IVF-kmeans, sim6 IVF multi-probe): 20k
vectors, ~600 query ids, brute-force cosine top-10 as truth computed
under the OPERATORS' ranking contract (cosine rounded 4dp, ties by
neighbor id — raw-double truth would arbitrarily disagree wherever
cluster siblings tie at 4dp).  Cells/planes scaled to keep ~64-vector
buckets with skew headroom (n_cells = N/(cap/2) = N/32 — the
documented IVF knob in ``_cell_probe_topk``; registry values target
the tiny sf tables).  Reported split by query type: CLUSTER
queries (a true near-dup sibling exists — the case a dedup pipeline
must not miss) vs UNIQUE queries (nearest neighbor is weak/random —
the honest hard case for few-probe ANN).

Rewrites ONLY its own BENCH/BASELINE.md section.  Usage:

    python3 tools/bench_recall.py [n_docs] [n_vec_ann]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_DOCS = int(sys.argv[1].replace("_", "")) if len(sys.argv) > 1 else 100_000
N_ANN = int(sys.argv[2].replace("_", "")) if len(sys.argv) > 2 else 20_000
SECTION = "## Measured recall at scale (sampled brute-force ground truth)"

SAMPLE_BLOCK_MOD = 67   # keep whole 20-doc blocks where block % 67 == 0
QUERY_MOD = 33          # ANN query ids: vec_id % 33 == 0


def _pairs_canon(rows, a="doc_a", b="doc_b"):
    return {tuple(sorted((r[a], r[b]))) for r in rows}


def pair_recall_table(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from bench_dedup_scale import synth_docs, synth_embeddings
    from ocr_document_recognition_service_spark.operators import dedup

    docs = synth_docs(spark, N_DOCS).repartition(64)
    docs.cache().count()
    in_sample = (F.col("doc_id") / 20).cast("long") % SAMPLE_BLOCK_MOD == 0
    sample = docs.filter(in_sample)
    sample_ids = sorted(
        r["doc_id"] for r in sample.select("doc_id").collect()
    )

    # ---- ground truths over the sample (driver-side, exact) ----
    # w3-shingle sets via the operator's own shingle definition
    sh = (
        dedup._shingle_rows(sample, "w3")
        .groupBy("doc_id")
        .agg(F.collect_set("w").alias("fs"))
        .collect()
    )
    shingles = {r["doc_id"]: frozenset(r["fs"]) for r in sh}
    inv: dict[str, list[int]] = {}
    for d, fs in shingles.items():
        for s in fs:
            inv.setdefault(s, []).append(d)
    cand = set()
    for ds in inv.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    true_jacc = set()
    for a, b in cand:
        fa, fb = shingles[a], shingles[b]
        inter = len(fa & fb)
        if inter and inter / (len(fa) + len(fb) - inter) >= 0.5:
            true_jacc.add((a, b))

    # 32-bit simhash via the operator's own signature column
    simhash_rows = dedup.simhash_bits(sample, 32, out="sh").select(
        "doc_id", "sh"
    ).collect()
    ids = np.array([r["doc_id"] for r in simhash_rows], dtype=np.int64)
    sigs = np.array([r["sh"] for r in simhash_rows], dtype=np.int64)
    x = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(x)
    for _ in range(32):
        ham += x & 1
        x >>= 1
    ii, jj = np.where((ham <= 3) & (ids[:, None] < ids[None, :]))
    true_ham = {
        (int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)
    }

    # embedding cosine ≥ 0.99 (same generator as the dd5 run below)
    emb = synth_embeddings(spark, N_DOCS).repartition(64)
    emb.cache().count()
    es = emb.filter(
        (F.col("vec_id") / 20).cast("long") % SAMPLE_BLOCK_MOD == 0
    ).collect()
    vids = np.array([r["vec_id"] for r in es], dtype=np.int64)
    V = np.array([r["embedding"] for r in es], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = Vn @ Vn.T
    ii, jj = np.where((cos >= 0.99) & (vids[:, None] < vids[None, :]))
    true_cos = {(int(vids[i]), int(vids[j])) for i, j in zip(ii, jj)}

    # ---- shipped operators over the FULL corpus ----
    out = []

    t0 = time.time()
    dd3 = dedup.lsh_candidate_pairs(docs, shingle="w3", bucket_cap=64)
    found3 = _pairs_canon(
        dd3.filter(
            F.col("doc_a").isin(sample_ids)
            & F.col("doc_b").isin(sample_ids)
        ).collect()
    )
    out.append(
        (
            "dd3 MinHash-LSH candidates",
            "w3 Jaccard >= 0.5",
            len(true_jacc),
            len(found3 & true_jacc),
            round(time.time() - t0, 1),
        )
    )

    # dd7 at the registry's 32-bit width: 8-bit bands = 256 buckets,
    # ~N/256 docs each — cap 64 truncates hard at 100k docs.  Kept in
    # the table as the measured cost of an UNSCALED signature width.
    t0 = time.time()
    dd7 = dedup.simhash_near_pairs(
        docs, n_bits=32, n_bands=4, max_hamming=3, bucket_cap=64
    )
    found7 = _pairs_canon(
        dd7.filter(
            F.col("doc_a").isin(sample_ids)
            & F.col("doc_b").isin(sample_ids)
        ).collect()
    )
    out.append(
        (
            "dd7 SimHash (n_bits=32 UNSCALED, cap=64)",
            "hamming32 <= 3",
            len(true_ham),
            len(found7 & true_ham),
            round(time.time() - t0, 1),
        )
    )

    # dd7 at the corpus-scaled width (simhash_width_for_corpus): bands
    # get enough bits that the cap only sees genuine skew
    n_bits_scaled = dedup.simhash_width_for_corpus(N_DOCS, n_bands=4)
    sim_scaled = dedup.simhash_bits(sample, n_bits_scaled, out="sh").select(
        "doc_id", "sh"
    ).collect()
    ids_s = np.array([r["doc_id"] for r in sim_scaled], dtype=np.int64)
    # view as unsigned so the popcount shifts are logical
    sigs_s = np.array(
        [r["sh"] for r in sim_scaled], dtype=np.int64
    ).astype(np.uint64)
    x = sigs_s[:, None] ^ sigs_s[None, :]
    ham_s = np.zeros(x.shape, dtype=np.int64)
    for _ in range(n_bits_scaled):
        ham_s += (x & np.uint64(1)).astype(np.int64)
        x = x >> np.uint64(1)
    ii, jj = np.where((ham_s <= 3) & (ids_s[:, None] < ids_s[None, :]))
    true_ham_s = {(int(ids_s[i]), int(ids_s[j])) for i, j in zip(ii, jj)}
    t0 = time.time()
    dd7s = dedup.simhash_near_pairs(
        docs, n_bits=n_bits_scaled, n_bands=4, max_hamming=3, bucket_cap=64
    )
    found7s = _pairs_canon(
        dd7s.filter(
            F.col("doc_a").isin(sample_ids)
            & F.col("doc_b").isin(sample_ids)
        ).collect()
    )
    out.append(
        (
            f"dd7 SimHash (n_bits={n_bits_scaled} scaled, cap=64)",
            f"hamming{n_bits_scaled} <= 3",
            len(true_ham_s),
            len(found7s & true_ham_s),
            round(time.time() - t0, 1),
        )
    )

    t0 = time.time()
    dd5 = dedup.embedding_dup_pairs(
        emb, threshold=0.99, bucket_cap=64, n_vectors=N_DOCS
    )
    found5 = _pairs_canon(
        dd5.filter(
            F.col("vec_a").isin(sample_ids)
            & F.col("vec_b").isin(sample_ids)
        ).collect(),
        "vec_a",
        "vec_b",
    )
    out.append(
        (
            "dd5 embedding hyperplane-LSH",
            "cosine >= 0.99",
            len(true_cos),
            len(found5 & true_cos),
            round(time.time() - t0, 1),
        )
    )

    # dd12: the same operator with 2-table OR-probing (r7) — a pair
    # split by one table's plane is recovered by the other; measures
    # the recall this buys over the 0.84 single-table row above
    t0 = time.time()
    dd12 = dedup.embedding_dup_pairs(
        emb, threshold=0.99, bucket_cap=64, n_vectors=N_DOCS, n_tables=2
    )
    found12 = _pairs_canon(
        dd12.filter(
            F.col("vec_a").isin(sample_ids)
            & F.col("vec_b").isin(sample_ids)
        ).collect(),
        "vec_a",
        "vec_b",
    )
    out.append(
        (
            "dd12 embedding LSH, 2-table OR-probing",
            "cosine >= 0.99",
            len(true_cos),
            len(found12 & true_cos),
            round(time.time() - t0, 1),
        )
    )

    # dd10 SemDeDup: per-VECTOR verdict recall — a truth vector is one
    # with a smaller-id sampled mate at cosine >= 0.99 (the sample
    # keeps whole clusters, so mates are in-sample); dd10 must flag it
    # is_dup.  Cells sized by the headroom rule N/(cap/2).  r7: runs
    # the AT-SCALE quantizer exactly as a 100 TB deployment would —
    # hash-order sampled Lloyd training, two-level O(sqrt k)/row
    # assignment (the numpy kernel the sim7 registry query checks
    # against its DuckDB twin), and probe-side multi-assignment
    # n_probe=2 (the r6
    # verdict's recall knob for mates split across a cell wall).
    # r6 flat/probe-1 history: recall 0.933 at 395 s.
    # cell_cap = 4x the mean cell (128 at mean 32): this tool MEASURED
    # the 2x-headroom cap truncating genuinely skewed cells (quantizer
    # cells reached ~80 members = 2.5x mean; every residual dd10 miss
    # at cap=64 was a large-id mate capped out of the index) — recall
    # 0.96 -> 1.000 at +20% wall.  coarse_probe=3: cp=2 left two-level
    # assignment errors worth ~0.04 recall.
    t0 = time.time()
    n_cells_dd10 = max(8, N_DOCS // 32)
    dd10 = dedup.semantic_dedup(
        emb, n_cells=n_cells_dd10, iters=1, threshold=0.99, cell_cap=128,
        # at cells = N/32 the 64-per-centroid sample rule clips at the
        # corpus (64*k = 2N), and a limit >= N would funnel the corpus
        # through the driver's TakeOrdered merge — train on the full
        # corpus (sample_cap is the knob for fixed-k << N/64 regimes)
        n_probe=2, sample_cap=None, two_level=True, coarse_probe=3,
    )
    flagged = {
        r["vec_id"]
        for r in dd10.filter(
            F.col("vec_id").isin(sample_ids) & F.col("is_dup")
        ).select("vec_id").collect()
    }
    true_dup_vecs = {j for (_i, j) in true_cos}
    out.append(
        (
            f"dd10 SemDeDup verdicts (cells={n_cells_dd10}, iters=1, "
            "cap=128=4x-mean, P=2, cp=3, two-level quantizer)",
            "vec has a smaller-id mate at cos >= 0.99",
            len(true_dup_vecs),
            len(flagged & true_dup_vecs),
            round(time.time() - t0, 1),
        )
    )
    docs.unpersist()
    emb.unpersist()
    return out


def ann_recall_table(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bench_dedup_scale import synth_embeddings
    from ocr_document_recognition_service_spark.operators import similarity

    emb = synth_embeddings(spark, N_ANN).repartition(32)
    emb.cache().count()
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    qids = [r["vec_id"] for r in queries.select("vec_id").collect()]
    cluster_q = {q for q in qids if q % 20 < 3}

    # brute-force truth under the OPERATORS' ranking contract (cosine
    # rounded 4dp, ties by neighbor id — similarity._rank_scored):
    # cluster siblings tie at 4dp, and truth ranked on raw doubles
    # would arbitrarily disagree with a correct ANN answer
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                similarity.dot_arrays("embedding", "qv")
                / (
                    similarity.norm_arrays("embedding")
                    * similarity.norm_arrays("qv")
                ),
                4,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    truth_rows = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .collect()
    )
    truth: dict[int, list[int]] = {}
    for r in truth_rows:
        truth.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"])
        )
    truth = {q: [n for _, n in sorted(v)] for q, v in truth.items()}

    def _normalized(df):
        # stage the norm as a COLUMN before the per-element lambda —
        # no CSE inside HOF lambda bodies (CLAUDE.md): an inline norm
        # aggregate would re-evaluate per element, O(d^2) per row
        return df.select(
            "vec_id", "embedding", similarity.norm_arrays("embedding").alias("_n")
        ).select(
            "vec_id",
            F.transform(
                "embedding", lambda x: x.cast("double") / F.col("_n")
            ).alias("embedding"),
        )

    n_planes = similarity.planes_for_corpus(N_ANN)
    # mean cell = cap/2: headroom so quantizer skew doesn't hit the
    # cap (n_cells = N/cap puts the MEAN at the cap — measured 0.60
    # sibling recall with the first-k quantizer; see _cell_probe_topk)
    n_cells = max(8, N_ANN // 32)

    def recall(found: dict[int, list[int]], k: int, qset) -> float:
        num = den = 0
        for q in qset:
            t = set(truth.get(q, [])[:k])
            den += len(t)
            num += len(t & set(found.get(q, [])[:k]))
        return round(num / den, 3) if den else float("nan")

    out = []
    ops = [
        (
            f"sim3 LSH (planes={n_planes}, tables=2, cap=64)",
            lambda: similarity.lsh_topk(
                emb, n_planes=n_planes, n_tables=2, bucket_cap=64, k=10
            ),
        ),
        (
            f"sim5 IVF-kmeans (cells={n_cells}, iters=2, cap=64)",
            lambda: similarity.ivf_kmeans_topk(
                emb, n_cells=n_cells, iters=2, k=10, cell_cap=64
            ),
        ),
        (
            f"sim6 IVF multi-probe (cells={n_cells}, P=2, cap=64)",
            lambda: similarity.ivf_topk(
                emb, n_cells=n_cells, k=10, cell_cap=64, n_probe=2
            ),
        ),
        (
            f"sim7 IVF two-level quantizer (cells={n_cells}, "
            "P=2, cap=64)",
            lambda: similarity.ivf_kmeans_topk(
                emb, n_cells=n_cells, iters=1, k=10, cell_cap=64,
                n_probe=2, sample_cap=None, two_level=True,
            ),
        ),
        (
            "sim8 PQ-ADC (8x64 codebooks, table scan, L2-normalized)",
            # ADC ranks by L2 to the reconstruction; over L2-NORMALIZED
            # vectors that ordering is cosine-equivalent, so the
            # cosine-truth recall is a fair measure (the standard
            # normalize-for-cosine PQ deployment).  Scored as
            # distance tables + gathers (the FAISS scan).
            lambda: similarity.pq_adc_topk(
                _normalized(emb),
                k_neighbors=10,
                n_sub=8,
                k=64,
                iters=1,
                queries=_normalized(queries),
            ),
        ),
    ]
    for label, run in ops:
        t0 = time.time()
        rows = run().filter(F.col("query_id").isin(qids)).collect()
        wall = round(time.time() - t0, 1)
        found: dict[int, list[int]] = {}
        for r in rows:
            found.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"])
            )
        found = {q: [n for _, n in sorted(v)] for q, v in found.items()}
        out.append(
            (
                label,
                recall(found, 1, cluster_q),
                recall(found, 1, set(qids) - cluster_q),
                recall(found, 10, set(qids)),
                wall,
            )
        )
    emb.unpersist()
    return out


def main() -> int:
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(
        app_name="bench-recall",
        cores=32,
        extra={"spark.sql.shuffle.partitions": "64"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pairs = pair_recall_table(spark)
    for name, measure, true_n, found_n, wall in pairs:
        print(
            json.dumps(
                {
                    "op": name,
                    "measure": measure,
                    "true_pairs": true_n,
                    "found": found_n,
                    "recall": round(found_n / true_n, 3) if true_n else None,
                    "wall": wall,
                }
            )
        )
    ann = ann_recall_table(spark)
    for label, r1c, r1u, r10, wall in ann:
        print(
            json.dumps(
                {
                    "op": label,
                    "recall@1 cluster": r1c,
                    "recall@1 unique": r1u,
                    "recall@10 all": r10,
                    "wall": wall,
                }
            )
        )

    # the pipeline-critical guarantees: near-dup pairs and cluster
    # siblings must be found essentially always at the shipped caps —
    # EXCEPT the deliberately-unscaled dd7 row, which is kept in the
    # table as the measured cost of ignoring simhash_width_for_corpus
    for name, _m, true_n, found_n, _w in pairs:
        assert true_n > 50, f"{name}: sample has too few true pairs"
        if "UNSCALED" in name:
            continue
        assert found_n / true_n >= 0.8, f"{name}: recall collapsed"
    for label, r1c, _r1u, _r10, _w in ann:
        assert r1c >= 0.8, f"{label}: cluster-sibling recall collapsed"

    pair_rows = "\n".join(
        f"| {name} | {measure} | {true_n} | {found_n} | "
        f"{round(found_n / true_n, 3)} | {wall} |"
        for name, measure, true_n, found_n, wall in pairs
    )
    ann_rows = "\n".join(
        f"| {label} | {r1c} | {r1u} | {r10} | {wall} |"
        for label, r1c, r1u, r10, wall in ann
    )
    md = f"""{SECTION}

`tools/bench_recall.py`: the linearity evidence's missing half —
recall of the capped operators against exact brute-force ground truth
(see the tool docstring for the sampling design).  Corpus {N_DOCS:,}
docs/vectors for pair dedup, {N_ANN:,} vectors for ANN; caps as
shipped (64), planes/cells auto-scaled to the corpus per the
documented at-scale contract (`planes_for_corpus`,
`simhash_width_for_corpus`, and IVF cells at N/(cap/2) = N/32 for
skew headroom per `_cell_probe_topk`).  The dd10 and sim7 rows run
the r7 at-scale quantizer end-to-end (two-level O(√k)/row
assignment, the numpy kernel that registry query sim7 checks against
its DuckDB twin; at cells = N/32 the 64-per-centroid sample rule
clips at the corpus, so training is full-corpus here — the
hash-order sample knob targets fixed-k regimes) with probe-side
multi-assignment P=2.

Pair recall (operator output ∩ sample vs brute-force truth):

| operator | truth measure | true pairs | found | recall | wall (s) |
|---|---|---|---|---|---|
{pair_rows}

ANN recall (brute-force cosine top-k truth over ~{N_ANN // QUERY_MOD}
queries; cluster = a true near-dup sibling exists, the case a dedup
pipeline must not miss; unique = nearest neighbors are weak/random —
the honest hard case for few-probe ANN):

| operator | recall@1 (cluster) | recall@1 (unique) | recall@10 (all) | wall (s) |
|---|---|---|---|---|
{ann_rows}

local[32], single warm-session sample; recalls are deterministic,
walls are a shared-host sample.  Asserted floors: pair recall ≥ 0.8
and cluster-sibling recall@1 ≥ 0.8 — a cap/probe default change that
breaks dedup shows up here, not in production.
"""
    from _bench_md import replace_section

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    replace_section(path, SECTION, md)
    print(f"updated {path} ({SECTION!r})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
