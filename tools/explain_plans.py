"""Dump physical plans for the load-bearing queries → PLANS.md.

Review artifact for the scale claims: shows predicate pushdown
(PushedFilters), column pruning (ReadSchema), partition pruning on the
lang-partitioned pages table, broadcast joins on dims, and where the
Arrow UDF stages sit relative to exchanges.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_document_recognition_service_spark import gen_pages
    from ocr_document_recognition_service_spark.pipeline import extract_pages
    from ocr_document_recognition_service_spark.plans.queries import REGISTRY
    from ocr_document_recognition_service_spark.session import build_session

    spark = build_session(app_name="explain", cores=4)
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, str]] = []

    # 1. extraction over a lang-partitioned pages table → partition pruning
    d = tempfile.mkdtemp()
    gen_pages.pages_df(spark, 300, parallelism=8).write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(d + "/pages")
    src = spark.read.parquet(d + "/pages")
    sections.append(
        (
            "extract_pages over lang-partitioned table",
            "branch filters land as PartitionFilters (pruned scans, ONE scan "
            "per lang — salting happens inside the extract UDF); html is "
            "dropped right after ArrowEvalPython; no exchange below the "
            "union at all.",
            plan_of(extract_pages(src, salt_threshold=16 * 1024)),
        )
    )

    # 2. scan pushdown + pruning on a relational query
    sections.append(
        (
            "q3_shipping_priority",
            "PushedFilters on mktsegment/orderdate/shipdate; ReadSchema "
            "carries only referenced columns; dims broadcast.",
            plan_of(REGISTRY["q3_shipping_priority"].spark(spark, SF)),
        )
    )

    # 3. narrow projection proof on a filter query
    sections.append(
        (
            "f1_vocab_filter",
            "ReadSchema = doc_id, lang, n_chars, text only.",
            plan_of(REGISTRY["f1_vocab_filter"].spark(spark, SF)),
        )
    )

    # 4. LSH dedup: one wide aggregation, banded self-join
    sections.append(
        (
            "dd3_minhash_lsh",
            "single partial+final agg pass for all 8 signatures; pair join "
            "keyed on (band, band_sig).",
            plan_of(REGISTRY["dd3_minhash_lsh"].spark(spark, SF)),
        )
    )

    # 5. two-pass prefix sum: keyed window for the big table, the only
    #    SinglePartition exchange sits above the tiny per-group agg
    sections.append(
        (
            "w2_chunk_ids",
            "full table moves through Exchange hashpartitioning(_g); the "
            "SinglePartition exchange below the offsets window feeds from "
            "the per-group HashAggregate (n/group_size rows), broadcast "
            "back — no global un-partitioned window.",
            plan_of(REGISTRY["w2_chunk_ids"].spark(spark, SF)),
        )
    )

    # 6. generate-then-verify near-dup: LSH candidates, then exact
    #    verification via array_intersect (no explode, no value shuffle)
    sections.append(
        (
            "dd2_word_jaccard",
            "candidate pairs from the banded MinHash join; the verify side "
            "joins word ARRAYS by doc id and intersects inside codegen — "
            "no all-pairs join, no shuffle keyed on feature values.",
            plan_of(REGISTRY["dd2_word_jaccard"].spark(spark, SF)),
        )
    )

    # 7. as-of join: one keyed window over the tag-union, no range blow-up
    sections.append(
        (
            "ev4_asof_join",
            "tag-union of both sides moves through ONE Exchange "
            "hashpartitioning(user_id); the as-of match is a window "
            "carry — no BroadcastNestedLoopJoin anywhere.",
            plan_of(REGISTRY["ev4_asof_join"].spark(spark, SF)),
        )
    )

    # 8. range join: bucketed equi-join instead of a nested loop
    sections.append(
        (
            "ev5_range_join",
            "interval containment runs as SortMergeJoin/ShuffledHashJoin "
            "keyed on (user_id, _bkt) with the exact BETWEEN as a "
            "post-join filter — no BroadcastNestedLoopJoin.",
            plan_of(REGISTRY["ev5_range_join"].spark(spark, SF)),
        )
    )

    # 9. r5 — WARC streaming ingest + extraction: the binaryFile scan
    #    reads ONLY `path` (listing, not content — ReadSchema proves no
    #    blob is materialized); record parse and extraction are two
    #    ArrowEvalPython stages with no exchange of html between them
    from ocr_document_recognition_service_spark.sources import warc as _warc

    wd = tempfile.mkdtemp()
    rows = list(gen_pages.gen_rows(30))
    _warc.write_warc_gz(
        wd + "/seg0.warc.gz",
        [(r["url"], r["warc_ts"], r["html"]) for r in rows],
    )
    sections.append(
        (
            "read_warc_stream → extract_pages (r5)",
            "binaryFile scan ReadSchema = struct<path:string> — the "
            "archive LISTING only, so the 2 GB content cap never "
            "applies and bytes are touched only by the bounded-memory "
            "record parser; one round-robin exchange of PATHS (tiny), "
            "then parse and the per-lang extract branches run with no "
            "shuffle of html anywhere.",
            plan_of(
                extract_pages(_warc.read_warc_stream(spark, wd + "/*.warc.gz"))
            ),
        )
    )

    # 10. r5 — IVF multi-probe: query side = rn≤2 nearest cells, index
    #     side = capped primary assignment (WindowGroupLimit, broadcast)
    sections.append(
        (
            "sim6_ivf_multiprobe",
            "broadcast centroid arrays; both rank filters are windows "
            "over the tiny (vec_id, cell, dist2) projection; the capped "
            "index side shows WindowGroupLimit before its exchange; the "
            "probe join is keyed on cell — no all-pairs shape.",
            plan_of(REGISTRY["sim6_ivf_multiprobe"].spark(spark, SF)),
        )
    )

    # 11. r6 — segment dedup: Arrow-batched segmentation stays NARROW;
    #     the only shuffles are the groupBy(min) on md5(segment) and
    #     the per-doc reassembly agg
    sections.append(
        (
            "dd9_segment_dedup (r6)",
            "one ArrowEvalPython segments each doc in place (no word "
            "shuffle); winners = hash-agg on seg_hash with partial "
            "(map-side) combine absorbing boilerplate mega-duplicates; "
            "reassembly is ONE groupBy(doc) over keep-flagged rows — "
            "the wide text column never moves through an exchange.",
            plan_of(REGISTRY["dd9_segment_dedup"].spark(spark, SF)),
        )
    )

    # 12. r6/r7 — SemDeDup: literalized per-round centroids, map-side
    #     argmin agg, capped within-cell candidate join
    sections.append(
        (
            "dd10_semdedup (r6, flat oracle quantizer)",
            "trained centroids arrive as literal LocalRelation rows (no "
            "re-derivation per consumer); the primary assignment is a "
            "SortAggregate min(struct(dist2, cell)) with a "
            "partial_min MAP-SIDE pass (struct min isn't hash-agg "
            "buffer-able), so only per-partition argmins reach its "
            "exchange, never the N×k candidates; the capped cell index shows WindowGroupLimit "
            "Partial before its exchange; comparisons join keyed on the "
            "cell — never across cells.",
            plan_of(REGISTRY["dd10_semdedup"].spark(spark, SF)),
        )
    )

    # 13. r7 — the at-scale two-level quantizer (sim7): sampled
    #     training + coarse-probe-in-codegen + broadcast fine join
    sections.append(
        (
            "sim7_ivf_twolevel (r7, at-scale quantizer)",
            "the coarse probe is a pure per-row projection (literal "
            "array-of-arrays distance transform + array_sort — zero "
            "exchange below it); fine candidates come from a "
            "BroadcastHashJoin on the coarse id (the fine→coarse map is "
            "k tiny rows); the fine argmin is the same map-side "
            "partial_min(struct) aggregation as dd10 — per-row work is "
            "O(√k), and no stage materializes the N×k flat candidate "
            "set anywhere in the plan.",
            plan_of(REGISTRY["sim7_ivf_twolevel"].spark(spark, SF)),
        )
    )

    # 14. r7 — PQ encode: the whole 8-subspace encode is ONE
    #     zero-shuffle projection (literal codebooks, per-row argmin)
    sections.append(
        (
            "emb2_pq_encode (r7, product quantization)",
            "the ENCODE is Projects only — all 8 subspace argmins are "
            "literal-codebook expressions in one Project, each vector "
            "read once, 8 codes + rounded quantization error out; the "
            "single Exchange in the plan is the registry harness's own "
            "repartition(16) of the scan, not the operator.",
            plan_of(REGISTRY["emb2_pq_encode"].spark(spark, SF)),
        )
    )

    out = ["# PLANS — physical plans for the load-bearing queries\n"]
    out.append(
        "Regenerate with `python3 tools/explain_plans.py`.  What to look "
        "for is noted per section.\n"
    )
    for title, note, plan in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"),
        "w",
    ) as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
