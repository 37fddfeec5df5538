"""Structured Streaming operators vs their batch twins."""

import pytest

pytestmark = pytest.mark.spark


def test_foreachbatch_sink_idempotent_on_replay(spark, tmp_path):
    """foreachBatch is at-least-once on retry: replaying the same
    batch_id must REPLACE its prior output, not duplicate it."""
    from pyspark.sql import functions as F

    from ocr_document_recognition_service_spark.streaming.incremental import (
        write_batch_idempotent,
    )

    out = str(tmp_path / "idem_out")
    df = spark.range(0, 10).withColumn("batch_id", F.lit(0))
    write_batch_idempotent(df, out)
    write_batch_idempotent(df, out)  # simulated micro-batch retry
    assert spark.read.parquet(out).count() == 10
    # a different batch id appends alongside
    write_batch_idempotent(
        spark.range(0, 5).withColumn("batch_id", F.lit(1)), out
    )
    got = spark.read.parquet(out)
    assert got.count() == 15
    assert got.filter(F.col("batch_id") == 0).count() == 10


def test_incremental_neardup_first_wins_and_idempotent(spark, tmp_path):
    """Streaming near-dedup at ingest: within-batch keep-min, history
    first-wins, replay exactly-once; final kept set equals the batch
    keep-min result when ids arrive in id order."""
    from ocr_document_recognition_service_spark.operators import dedup
    from ocr_document_recognition_service_spark.streaming.neardup import (
        incremental_neardup,
    )

    def doc(i, text):
        return (i, text)

    uniq = lambda i: " ".join(f"tok{i}_{j} filler{i}_{j}" for j in range(12))
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    b1 = [doc(0, uniq(0)), doc(1, uniq(1)), doc(2, uniq(2)),
          doc(3, dup_text), doc(4, dup_text), doc(5, uniq(5))]
    dup2 = "completely different repeated payload shared by late arrivals ok"
    b2 = [doc(10, uniq(10)), doc(11, dup_text),        # history hit
          doc(12, dup2), doc(13, dup2)]                # within-batch pair

    src = tmp_path / "nd_src"; src.mkdir()
    out, bands, ck = (str(tmp_path / n) for n in ("nd_out", "nd_bands", "nd_ck"))
    import pandas as pd

    pd.DataFrame(b1, columns=["doc_id", "text"]).to_parquet(
        str(src / "p1.parquet"))
    incremental_neardup(spark, str(src), out, bands, ck)
    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept1 == {0, 1, 2, 3, 5}  # 4 = within-batch dup of 3

    pd.DataFrame(b2, columns=["doc_id", "text"]).to_parquet(
        str(src / "p2.parquet"))
    incremental_neardup(spark, str(src), out, bands, ck)
    kept2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept2 == {0, 1, 2, 3, 5, 10, 12}  # 11 history-hit, 13 wb dup

    # replay with nothing new: exactly-once, no duplicates
    incremental_neardup(spark, str(src), out, bands, ck)
    assert spark.read.parquet(out).count() == 7
    # signature store holds the WHOLE seen stream (kept and dropped) -
    # that is what makes transitive chains batch-boundary-independent
    assert {r["doc_id"] for r in spark.read.parquet(bands).collect()} == {
        0, 1, 2, 3, 4, 5, 10, 11, 12, 13}

    # equals the batch keep-min result (ids arrived in id order)
    all_docs = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    pairs = dedup.lsh_candidate_pairs(all_docs)
    batch_drop = {r["doc_b"] for r in pairs.collect()}
    batch_kept = {i for i, _ in b1 + b2} - batch_drop
    assert kept2 == batch_kept


def test_incremental_neardup_transitive_chain_across_batches(spark, tmp_path):
    """a~b, b~c chain where b is DROPPED and c arrives a batch later:
    c must still be dropped (b's signatures are stored even though b
    was rejected) — the batch-boundary-independence property."""
    import pandas as pd

    from ocr_document_recognition_service_spark.operators import dedup
    from ocr_document_recognition_service_spark.streaming.neardup import (
        incremental_neardup,
    )

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "alpha beta gamma delta epsilon zeta eta theta iota novel1"
    t3 = "front3 beta gamma delta epsilon zeta eta theta iota novel1"
    # fixture premise: 1~2 and 2~3 collide, 1~3 does NOT
    import collections
    bb = collections.defaultdict(set)
    for r in dedup.band_signatures(
        spark.createDataFrame(
            [(1, t1), (2, t2), (3, t3)], "doc_id long, text string"
        )
    ).collect():
        bb[(r["band"], r["band_sig"])].add(r["doc_id"])
    assert any({1, 2} <= s for s in bb.values())
    assert any({2, 3} <= s for s in bb.values())
    assert not any({1, 3} <= s for s in bb.values())

    src = tmp_path / "ch_src"; src.mkdir()
    out, bands, ck = (str(tmp_path / n) for n in ("ch_out", "ch_bands", "ch_ck"))
    pd.DataFrame([(1, t1), (2, t2)], columns=["doc_id", "text"]).to_parquet(
        str(src / "p1.parquet"))
    incremental_neardup(spark, str(src), out, bands, ck)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}
    pd.DataFrame([(3, t3)], columns=["doc_id", "text"]).to_parquet(
        str(src / "p2.parquet"))
    incremental_neardup(spark, str(src), out, bands, ck)
    # 3 collides with DROPPED 2's stored bands -> dropped, same as if
    # all three had shared one batch
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_neardup_batch_replay_is_idempotent(spark, tmp_path):
    """A retried foreachBatch (same batch_id) must not collide with its
    own prior signatures nor duplicate output."""
    from ocr_document_recognition_service_spark.streaming.neardup import (
        process_neardup_batch,
    )

    out, bands = str(tmp_path / "rp_out"), str(tmp_path / "rp_bands")
    dup = "same same text here repeated exactly for the dup pair ok ok"
    batch = spark.createDataFrame(
        [(1, "totally unique first document tokens here ok fine"),
         (2, dup), (3, dup)],
        "doc_id long, text string",
    )
    process_neardup_batch(spark, batch, 7, out, bands)
    first = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert first == {1, 2}  # 3 = within-batch dup of 2
    # retry the SAME batch id: must produce the identical result, not
    # an empty partition (self-collision) or duplicates
    process_neardup_batch(spark, batch, 7, out, bands)
    rows = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in rows} == {1, 2} and len(rows) == 2


def test_neardup_compaction_preserves_decisions(spark, tmp_path):
    """Folding the signature store into a distinct (band, band_sig)
    snapshot must not change any keep/drop decision, must stay
    replay-idempotent, and must actually shrink the store to at most
    the distinct-signature count."""
    from ocr_document_recognition_service_spark.streaming import neardup as nd

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "alpha beta gamma delta epsilon zeta eta theta iota novel1"
    t3 = "front3 beta gamma delta epsilon zeta eta theta iota novel1"
    uniq = lambda i: " ".join(f"tok{i}_{j} fill{i}_{j}" for j in range(10))
    batches = [
        [(1, t1), (2, t2), (4, uniq(4))],   # 2 dropped (wb dup of 1)
        [(5, uniq(5))],
        [(6, t3), (7, uniq(7))],            # 6 must hit DROPPED 2's sigs
    ]

    def run(store_root, compact_after=None):
        out = str(store_root / "out"); bands = str(store_root / "bands")
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            nd.process_neardup_batch(spark, df, bid, out, bands)
            if compact_after is not None and bid == compact_after:
                nd.compact_bands(spark, bands, upto_batch=bid)
                nd.compact_bands(spark, bands, upto_batch=bid)  # idempotent
                nd.vacuum_bands(spark, bands)
        return out, bands

    ctrl_root = tmp_path / "ctrl"; ctrl_root.mkdir()
    comp_root = tmp_path / "comp"; comp_root.mkdir()
    out_c, _ = run(ctrl_root)
    out_k, bands_k = run(comp_root, compact_after=1)

    kept_ctrl = {r["doc_id"] for r in spark.read.parquet(out_c).collect()}
    kept_comp = {r["doc_id"] for r in spark.read.parquet(out_k).collect()}
    assert kept_comp == kept_ctrl == {1, 4, 5, 7}  # 6 dropped via snapshot

    # snapshot row count <= distinct signatures of the folded batches
    snap = spark.read.parquet(nd._compact_path(bands_k))
    folded = spark.createDataFrame(
        batches[0] + batches[1], "doc_id long, text string"
    )
    from ocr_document_recognition_service_spark.operators import dedup
    n_distinct = (
        dedup.band_signatures(folded).select("band", "band_sig").distinct().count()
    )
    assert snap.count() <= n_distinct
    # vacuum removed the folded delta partitions; only batch 2 remains
    delta_batches = {
        r["batch_id"]
        for r in spark.read.parquet(bands_k).select("batch_id").distinct().collect()
    }
    assert delta_batches == {2}

    # replay of the latest batch AFTER compaction: history excludes its
    # own delta partition, snapshot holds only batches <= 1 -> identical
    df2 = spark.createDataFrame(batches[2], "doc_id long, text string")
    nd.process_neardup_batch(spark, df2, 2, out_k, bands_k)
    rows = spark.read.parquet(out_k).collect()
    assert {r["doc_id"] for r in rows} == kept_ctrl and len(rows) == 4


def test_incremental_neardup_with_compact_every(spark, tmp_path):
    """End-to-end: the streaming drain with compact_every enabled makes
    the same decisions as the uncompacted stream."""
    import pandas as pd
    from ocr_document_recognition_service_spark.streaming.neardup import (
        incremental_neardup,
    )

    uniq = lambda i: " ".join(f"w{i}_{j} x{i}_{j}" for j in range(12))
    dup = "shared duplicated payload text exactly repeated across batches ok"
    files = [
        [(0, uniq(0)), (1, dup)],
        [(2, dup), (3, uniq(3))],
        [(4, dup), (5, uniq(5))],
    ]
    results = {}
    for mode, every in (("plain", None), ("compact", 1)):
        src = tmp_path / f"{mode}_src"; src.mkdir()
        out, bands, ck = (
            str(tmp_path / f"{mode}_{n}") for n in ("out", "bands", "ck")
        )
        for i, rows in enumerate(files):
            pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
                str(src / f"p{i}.parquet")
            )
            incremental_neardup(
                spark, str(src), out, bands, ck, compact_every=every
            )
        results[mode] = {
            r["doc_id"] for r in spark.read.parquet(out).collect()
        }
    assert results["plain"] == results["compact"] == {0, 1, 3, 5}


def test_neardup_compaction_empty_snapshot_not_wedged(spark, tmp_path):
    """Folding only zero-signature batches writes an empty snapshot
    (partition dir, no data files); subsequent batches must still read
    it as empty instead of dying on schema inference."""
    from ocr_document_recognition_service_spark.streaming import neardup as nd

    out, bands = str(tmp_path / "es_out"), str(tmp_path / "es_bands")
    # one-word docs produce no w3 shingles -> zero band signatures
    empty = spark.createDataFrame([(1, "solo"), (2, "word")],
                                  "doc_id long, text string")
    nd.process_neardup_batch(spark, empty, 0, out, bands)
    eff = nd.compact_bands(spark, bands, upto_batch=0)
    nd.vacuum_bands(spark, bands, thru=eff)
    # next batch must process normally against the empty history
    dup = "same repeated payload text for the within batch pair here ok"
    batch = spark.createDataFrame(
        [(3, dup), (4, dup)], "doc_id long, text string"
    )
    nd.process_neardup_batch(spark, batch, 1, out, bands)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 3}
