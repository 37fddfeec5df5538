"""Operator tests: dedup / similarity / text analysis / multimodal /
streaming — semantics checked against plain-Python references."""

import hashlib
import math
import time

import pytest
from pyspark.sql import functions as F

from ocr_document_recognition_service_spark import gen_pages
from ocr_document_recognition_service_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text_analysis,
)

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_groups_covers_all_docs(docs):
    g = dedup.exact_groups(docs)
    total = g.agg(F.sum("n_docs")).collect()[0][0]
    assert total == docs.count()


def test_minhash_matches_python_reference(spark, docs):
    sample = {r["doc_id"]: r["text"] for r in docs.limit(5).collect()}
    got = {
        (r["doc_id"], r["seed"]): r["sig"]
        for r in dedup.minhash_signatures(docs.limit(5)).collect()
    }
    for doc_id, text in sample.items():
        words = {w for w in text.lower().split() if w}
        for seed in range(dedup.N_MINHASH):
            expect = min(
                hashlib.md5(f"{seed}:{w}".encode()).hexdigest() for w in words
            )
            assert got[(doc_id, seed)] == expect


def test_simhash_range_and_determinism(docs):
    rows = dedup.simhash16(docs.limit(20)).collect()
    assert all(0 <= r["simhash16"] < 2**16 for r in rows)
    rows2 = dedup.simhash16(docs.limit(20)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    got = similarity.cosine_topk(emb, n_queries=2, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in (0, 1):
        qv = vecs[q]
        scored = sorted(
            (
                (round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 4), -i)
                for i, v in vecs.items()
                if i != q
            ),
            reverse=True,
        )[:3]
        expect = [(-i, c) for c, i in scored]
        rows = sorted(by_q[q], key=lambda r: r["rank"])
        assert [(r["neighbor_id"], r["cosine"]) for r in rows] == [
            (i, pytest.approx(c, abs=1e-4)) for i, c in expect
        ]


def test_lsh_buckets_deterministic_and_bounded(emb):
    b1 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb).collect()}
    assert b1 == b2
    assert all(0 <= v < 2**similarity.N_PLANES for v in b1.values())


def test_media_meta_and_image_stub(spark):
    rows = list(gen_pages.gen_rows(40))
    pdf_payloads = [r["html"] for r in rows]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pdf_payloads)], ["id", "payload"]
    )
    meta = multimodal.media_meta(df)
    fm = {r["id"]: r["format"] for r in meta.collect()}
    # PDFs detected by magic, HTML is 'unknown'
    kinds = set(fm.values())
    assert "pdf" in kinds and "unknown" in kinds

    dec = multimodal.decode_image_meta(df).select("id", "image_meta.*").collect()
    for r in dec:
        assert r["decoder"] in ("stub", "pillow")
        assert 64 <= r["width"] <= 255 and 64 <= r["height"] <= 255
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(multimodal.synthetic_image_payload(2))


def test_streaming_incremental_matches_batch(spark, tmp_path):
    from ocr_document_recognition_service_spark import extract_one
    from ocr_document_recognition_service_spark.streaming.incremental import (
        incremental_extract,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    gen_pages.write_pages_parquet(str(src / "part1.parquet"), 60)
    out = str(tmp_path / "stream_out")
    ck = str(tmp_path / "stream_ck")
    incremental_extract(spark, str(src), out, ck)
    got = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert len(got) == 60
    for r in gen_pages.gen_rows(60):
        assert got[r["url"]] == extract_one.extract_document(
            r["html"], r["lang"]
        ).text

    # drain again with no new files: exactly-once, nothing re-ingested
    incremental_extract(spark, str(src), out, ck)
    assert spark.read.parquet(out).count() == 60

    # second drop: ONLY the new file's rows are processed
    gen_pages.write_pages_parquet(str(src / "part2.parquet"), 25, start=60)
    incremental_extract(spark, str(src), out, ck)
    got2 = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert len(got2) == 85
    for i, r in enumerate(gen_pages.gen_rows(85)):
        assert got2[r["url"]] == extract_one.extract_document(
            r["html"], r["lang"]
        ).text


def test_jobs_api(spark, pages_parquet, tmp_path):
    from ocr_document_recognition_service_spark import jobs

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    # a crashed/partial job must NOT report done (review finding)
    rid1 = jobs.submit(
        spark, pages_parquet, out, ck, num_partitions=4, limit_partitions=2
    )
    st1 = jobs.status(spark, ck, rid1)
    assert st1["state"] == "partial"
    assert st1["partitions"] == 2 and st1["expected_partitions"] == 4

    # resume under a new run id completes the snapshot → done
    rid2 = jobs.submit(spark, pages_parquet, out, ck, num_partitions=4)
    st2 = jobs.status(spark, ck, rid2)
    assert st2["state"] == "done" and st2["rows"] == 400
    # the original job now also reads as done (snapshot-level progress)
    assert jobs.status(spark, ck, rid1)["state"] == "done"

    res = jobs.result(spark, out, ck, rid2)
    assert res.count() == 400
    assert jobs.status(spark, ck, "nope")["state"] == "unknown"
    with pytest.raises(ValueError, match="unknown run_id"):
        jobs.result(spark, out, ck, "nope")
    with pytest.raises(ValueError, match="unknown run_id"):
        jobs.result(spark, out, str(tmp_path / "no_ck"), rid2)


def test_chunk_ids_two_pass_equals_global_window(spark, docs):
    """W2: the grouped two-pass prefix sum must equal the naive global
    running sum for every row, at group sizes that exercise multi-group
    offsets, and its plan must not funnel the table through one task."""
    from pyspark.sql import Window

    from ocr_document_recognition_service_spark.operators import windows

    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = docs.select(
        "doc_id",
        F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / 4000)
        .cast("int")
        .alias("chunk_id"),
    )
    expect = {r["doc_id"]: r["chunk_id"] for r in naive.collect()}
    for gsz in (7, 100, 65536):
        got = windows.chunk_ids(docs, max_chars=4000, group_size=gsz)
        rows = {r["doc_id"]: r["chunk_id"] for r in got.collect()}
        assert rows == expect, f"group_size={gsz}"

    plan = (
        windows.chunk_ids(docs, max_chars=4000, group_size=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the full-table window is keyed on the group column ...
    assert "hashpartitioning(_g" in plan
    # ... and every single-partition exchange sits directly above the
    # tiny per-group aggregate, never a raw scan
    tails = plan.split("Exchange SinglePartition")[1:]
    assert tails, "expected the offsets window in the plan"
    for tail in tails:
        first_op = tail.splitlines()[1] if "\n" in tail else tail
        assert "HashAggregate" in first_op, first_op


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_sessionize_fractional_gap_matches_duckdb_oracle(
    spark, tmp_path, ts_type
):
    """w6: a 1800.5 s gap exceeds the 1800 s session gap and must open a
    new session, as the DuckDB oracle's fractional ``epoch()`` gaps say
    (whole-second ``unix_timestamp`` gaps kept it in the old session)."""
    import datetime as dt

    duckdb = pytest.importorskip("duckdb")
    from ocr_document_recognition_service_spark.plans.queries import REGISTRY

    t0 = dt.datetime(2024, 1, 1)
    gaps = {  # user -> seconds between consecutive events
        1: [1800.5],  # just over: two sessions
        2: [1800.0],  # exactly the gap: one session
        3: [1799.5, 1800.25, 0.5],  # two sessions
    }
    rows = []
    for user, user_gaps in gaps.items():
        ts = t0
        rows.append((user, ts))
        for g in user_gaps:
            ts = ts + dt.timedelta(seconds=g)
            rows.append((user, ts))
    path = str(tmp_path / "events.parquet")
    events = spark.createDataFrame(rows, f"user_id long, ts {ts_type}")
    events.write.parquet(path)

    q = REGISTRY["w6_sessionize"]
    cols = ["user_id", "n_sessions", "n_events"]
    got = sorted(
        tuple(r)
        for r in q.spark(spark, str(tmp_path)).select(*cols).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = sorted(
        con.execute(f"SELECT {', '.join(cols)} FROM ({q.sql})").fetchall()
    )
    assert got == want == [(1, 2, 2), (2, 1, 2), (3, 2, 4)]


@pytest.mark.parametrize("name", ["sim8_pq_adc", "sim9_ivfpq"])
def test_adc_queries_match_duckdb_oracle(spark, name):
    """The registry's PQ-ADC queries run the numpy ADC scorer; their
    rows must hash equal to the DuckDB ``oracle_sql()`` twin's, the
    same row count + value-hash check as ``tools/check_contract.py``."""
    duckdb = pytest.importorskip("duckdb")
    from ocr_document_recognition_service_spark.plans.queries import (
        REGISTRY,
        oracle_sql,
    )
    from tools.check_contract import frame_hash

    sdf = REGISTRY[name].spark(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    res = con.execute(oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows) > 0
    assert frame_hash(sdf.columns, srows)[0] == frame_hash(dcols, drows)[0]


def test_lsh_probe_candidates_bounded_under_skew(spark):
    """A degenerate corpus (every vector identical → ONE bucket per
    table) must not go quadratic: with a bucket cap, per-query fan-out
    is bounded by n_tables × bucket_cap."""
    n, cap, tables = 120, 8, 2
    rows = [(i, [1.0] * 8) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cand = similarity.lsh_probe_candidates(
        emb, n_planes=4, n_tables=tables, bucket_cap=cap
    )
    per_q = {
        r["query_id"]: r["n"]
        for r in cand.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(per_q) == n  # every vector still probes
    assert max(per_q.values()) <= tables * cap
    # uncapped control: the same corpus explodes to n-1 per query
    uncapped = similarity.lsh_probe_candidates(emb, n_planes=4, n_tables=1)
    worst = (
        uncapped.groupBy("query_id").agg(F.count("*").alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert worst == n - 1


def test_parse_image_header_known_fixtures():
    """Pinned header bytes → exact dimensions, no image library."""
    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0]) + b"\x00" * 4
    )
    assert multimodal.parse_image_header(png) == (640, 480, "RGB")
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\xf7\x00\x00;"
    assert multimodal.parse_image_header(gif) == (320, 200, "P")
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big")
        + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )
    assert multimodal.parse_image_header(jpeg) == (1920, 1080, "RGB")
    # grayscale JPEG (1 component)
    jpeg_l = jpeg.replace(b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01", b"\x01\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    assert multimodal.parse_image_header(jpeg_l) == (1920, 1080, "L")
    # malformed: truncated PNG, desynced JPEG, HTML bytes
    assert multimodal.parse_image_header(png[:20]) is None
    assert multimodal.parse_image_header(b"\xff\xd8\xff\xe0\x00\x02junk") is None
    assert multimodal.parse_image_header(b"<html><body></body></html>") is None


def test_decode_image_meta_uses_header_path(spark):
    rows = [(i, multimodal.synthetic_image_payload(i)) for i in range(12)]
    rows.append((99, b"<html><p>not an image</p></html>"))
    df = spark.createDataFrame(rows, "id: long, payload: binary")
    got = {
        r["id"]: r
        for r in multimodal.decode_image_meta(df)
        .select("id", "image_meta.*")
        .collect()
    }
    for i in range(12):
        expect = multimodal.parse_image_header(
            multimodal.synthetic_image_payload(i)
        )
        r = got[i]
        assert r["decoder"] == "header"
        assert (r["width"], r["height"], r["mode"]) == expect
    assert got[99]["decoder"] in ("stub", "pillow")


def test_sorted_zip_matches_python_zip(spark):
    """W6: rank equi-join == zip(sorted(a), sorted(b)) incl. truncation
    to the shorter side; ranks via the two-pass global_rank."""
    from ocr_document_recognition_service_spark.operators import windows

    a_ids = [3, 90001, 17, 65536, 5, 200000, 42]
    b_ids = [1000, 7, 123456, 9, 70000]
    a = spark.createDataFrame([(i, f"a{i}") for i in a_ids], "ka: long, va: string")
    b = spark.createDataFrame([(i, f"b{i}") for i in b_ids], "kb: long, vb: string")
    got = {
        r["rank"]: (r["va"], r["vb"])
        for r in windows.sorted_zip(a, b, "ka", "kb").collect()
    }
    expect = {
        i + 1: (f"a{x}", f"b{y}")
        for i, (x, y) in enumerate(zip(sorted(a_ids), sorted(b_ids)))
    }
    assert got == expect


def test_simhash_near_pairs_equals_brute_force(spark, docs):
    """The UNCAPPED banded Hamming-LSH candidates have EXACT recall for
    max_hamming < n_bands (pigeonhole): result must equal the
    brute-force all-pairs popcount filter.  bucket_cap=None explicitly —
    the capped default trades exactly this property inside over-full
    buckets (pinned separately by the skew-bound test)."""
    sample = docs.limit(80)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(
            sample, n_bits=32, n_bands=4, max_hamming=3, bucket_cap=None
        ).collect()
    }
    sigs = {
        r["doc_id"]: r["sh"]
        for r in dedup.simhash_bits(sample, 32, out="sh").collect()
    }
    ids = sorted(sigs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect


def test_parse_wav_header_and_audio_meta(spark):
    """Pinned WAV bytes → exact header fields; PCM payloads take the
    real sample-decode path (hand-computed peak/RMS/md5), float WAV
    stays header-only, non-audio falls back to the stub."""
    import hashlib
    import math

    for i in (0, 1, 2, 3):
        b = multimodal.synthetic_wav_payload(i)
        rate, ch, bits, n = multimodal.parse_wav_header(b)
        assert rate in (8000, 16000, 44100) and ch in (1, 2) and bits == 16
        assert n == 100 + (i * 37) % 900
    assert multimodal.parse_wav_header(b"RIFFxxxxJUNK") is None
    assert multimodal.parse_wav_header(b"<html>") is None
    # truncated fmt chunk
    assert multimodal.parse_wav_header(b"RIFF\x04\x00\x00\x00WAVE") is None

    # hand-built 4-frame mono PCM16 WAV: exact peak/rms/duration/md5
    samples = [0, 16384, -32768, 8192]
    data = b"".join(s.to_bytes(2, "little", signed=True) for s in samples)
    fmt = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = (
        b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    (rate, ch, bits, n, dur, peak, rms, md5,
     codec) = multimodal.decode_wav_samples(wav)
    assert (rate, ch, bits, n, codec) == (8000, 1, 16, 4, "pcm")
    assert dur == 4 / 8000 and peak == 1.0
    want_rms = math.sqrt(sum(s * s for s in samples) / 4) / 32768
    assert abs(rms - want_rms) < 1e-12
    assert md5 == hashlib.md5(data).hexdigest()

    # truncated data chunk clips to whole frames actually present
    # (-3 bytes leaves 5 data bytes = 2 complete 2-byte frames)
    torn = wav[:-3]
    assert multimodal.decode_wav_samples(torn)[3] == 2

    # PCM8 full-scale: 0 -> -1.0 after the 128 offset
    d8 = bytes([0, 128, 255])
    fmt8 = (
        (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    body8 = (
        b"WAVEfmt " + len(fmt8).to_bytes(4, "little") + fmt8
        + b"data" + len(d8).to_bytes(4, "little") + d8
    )
    wav8 = b"RIFF" + len(body8).to_bytes(4, "little") + body8
    out8 = multimodal.decode_wav_samples(wav8)
    assert out8[2] == 8 and out8[5] == 1.0  # peak from the 0 byte

    df = spark.createDataFrame(
        [
            (0, multimodal.synthetic_wav_payload(0)),   # PCM16
            (1, b"not audio"),                          # stub
            (4, multimodal.synthetic_wav_payload(4)),   # PCM8
            (6, multimodal.synthetic_wav_payload(6)),   # IEEE float
            (7, multimodal.synthetic_wav_payload(7)),   # G.711 mu-law
            (9, multimodal.synthetic_wav_payload(9)),   # G.711 A-law
            (10, multimodal.synthetic_wav_payload(10)),  # IMA ADPCM mono
            (21, multimodal.synthetic_wav_payload(21)),  # IMA ADPCM stereo
        ],
        "id: long, payload: binary",
    )
    got = {
        r["id"]: r
        for r in multimodal.decode_audio_meta(df).select("id", "audio_meta.*").collect()
    }
    assert got[0]["decoder"] == "pcm" and got[0]["sample_rate"] == 8000
    assert got[0]["sample_md5"] is not None and 0 < got[0]["rms"] <= 1
    assert got[0]["duration_sec"] == got[0]["n_samples"] / 8000
    assert got[1]["decoder"] == "stub" and got[1]["peak"] is None
    assert got[4]["decoder"] == "pcm" and got[4]["bits"] == 8
    assert got[6]["decoder"] == "header" and got[6]["bits"] == 32
    assert got[6]["sample_md5"] is None
    for i, codec in ((7, "ulaw"), (9, "alaw"), (10, "adpcm"), (21, "adpcm")):
        assert got[i]["decoder"] == codec and got[i]["bits"] in (4, 8)
        assert got[i]["sample_md5"] is not None and 0 < got[i]["rms"] <= 1
        assert got[i]["n_samples"] == 100 + (i * 37) % 900  # fact clip
    assert got[21]["channels"] == 2

    # a fact chunk clips G.711 too (fact is authoritative for non-PCM
    # WAV: writers pad data chunks) — stats and md5 must exclude the
    # padding, matching what the header tier reports
    import numpy as np

    from ocr_document_recognition_service_spark.operators import audio

    payload = audio.g711_encode(
        np.array([0, 1000, -2000, 30000, 30000, 30000], dtype=np.int16),
        "ulaw",
    )
    fmt_g = (
        (7).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
    )
    body_g = (
        b"WAVEfmt " + len(fmt_g).to_bytes(4, "little") + fmt_g
        + b"fact" + (4).to_bytes(4, "little") + (3).to_bytes(4, "little")
        + b"data" + len(payload).to_bytes(4, "little") + payload
    )
    wav_g = b"RIFF" + len(body_g).to_bytes(4, "little") + body_g
    out_g = multimodal.decode_wav_samples(wav_g)
    assert out_g[3] == 3 and out_g[-1] == "ulaw"  # clipped to fact
    want = audio.g711_decode(payload[:3], "ulaw").astype("<i2").tobytes()
    assert out_g[7] == hashlib.md5(want).hexdigest()
    assert out_g[5] < 0.9  # the padded 30000s are excluded from peak


def test_g711_and_adpcm_codecs():
    """Hand-computed G.711 codewords, round-trip error bounds, ADPCM
    block structure (header sample, fact-chunk clip of writer padding,
    partial tail blocks, stereo word interleave)."""
    import numpy as np

    from ocr_document_recognition_service_spark.operators import audio

    # hand-expanded mu-law codewords: 0xFF is the inverted all-zeros
    # word -> 0; 0x7F is negative zero -> 0; one step above zero is
    # 0xFE -> +8 (mant 1: ((1<<3)+0x84)<<0 - 0x84 = 8)
    assert audio.ULAW_TABLE[0xFF] == 0 and audio.ULAW_TABLE[0x7F] == 0
    assert audio.ULAW_TABLE[0xFE] == 8
    assert int(audio.ULAW_TABLE.max()) == 32124
    # A-law: 0x55 xors to zero word -> segment 0 mantissa 0 -> -8
    # (sign bit CLEAR means negative in A-law); 0xD5 is +8
    assert audio.ALAW_TABLE[0x55] == -8 and audio.ALAW_TABLE[0xD5] == 8
    assert int(audio.ALAW_TABLE.max()) == 32256

    rng = np.random.RandomState(7)
    x = rng.randint(-32768, 32768, 4096).astype(np.int16)
    for law, table_max in (("ulaw", 32124), ("alaw", 32256)):
        dec = audio.g711_decode(audio.g711_encode(x, law), law)
        err = np.abs(dec.astype(np.int32) - x.astype(np.int32))
        # in-range samples land within half the largest step (512);
        # beyond the top level the error is the clip distance
        in_range = np.abs(x.astype(np.int32)) <= table_max
        assert err[in_range].max() <= 512
        assert err.max() <= 32767 - table_max + 512
        # decode of every byte is exactly the table (vectorized gather)
        all_bytes = bytes(range(256))
        table = audio.ULAW_TABLE if law == "ulaw" else audio.ALAW_TABLE
        assert np.array_equal(audio.g711_decode(all_bytes, law), table)

    # ADPCM: a smooth signal round-trips within the quantizer's reach
    t = np.arange(1500)
    sig = (9000 * np.sin(t / 18.0)).astype(np.int16).reshape(-1, 1)
    enc = audio.ima_adpcm_encode(sig, 1, 36)
    spb = audio.ima_samples_per_block(36, 1)
    assert spb == 65 and len(enc) % 36 == 0
    dec = audio.ima_adpcm_decode(enc, 1, 36)
    assert dec.shape[0] % spb == 0 and dec.shape[0] >= 1500
    # header sample of each block is emitted verbatim
    assert dec[0, 0] == sig[0, 0]
    err = np.abs(dec[:1500, 0].astype(np.int32) - sig[:, 0].astype(np.int32))
    assert float(np.sqrt((err.astype(float) ** 2).mean())) < 300
    # stereo: channels decode independently through the word interleave
    sig2 = np.stack(
        [(8000 * np.sin(t / 15.0)).astype(np.int16),
         (6000 * np.cos(t / 25.0)).astype(np.int16)], axis=1)
    dec2 = audio.ima_adpcm_decode(audio.ima_adpcm_encode(sig2, 2, 72), 2, 72)
    for c in range(2):
        e = np.abs(dec2[:1500, c].astype(np.int32)
                   - sig2[:, c].astype(np.int32))
        assert float(np.sqrt((e.astype(float) ** 2).mean())) < 300
    # truncated payload: whole word-groups of the tail block survive
    cut = audio.ima_adpcm_decode(enc[:len(enc) - 12], 1, 36)
    assert 0 < cut.shape[0] < dec.shape[0]
    # ima_frame_count is in LOCKSTEP with the decoder at every cut
    # length (mono and stereo) — parse_wav's header-tier count can
    # never drift from what decode actually yields
    enc2 = audio.ima_adpcm_encode(sig2, 2, 72)
    for raw, ch, ba in ((enc, 1, 36), (enc2, 2, 72)):
        for cut_len in range(0, len(raw) + 1, 3):
            got = audio.ima_adpcm_decode(raw[:cut_len], ch, ba)
            n = 0 if got is None else got.shape[0]
            assert n == audio.ima_frame_count(cut_len, ch, ba), (
                ch, ba, cut_len)
    # malformed geometry is None, never an exception
    assert audio.ima_adpcm_decode(b"x" * 100, 1, 7) is None
    assert audio.ima_adpcm_decode(b"", 1, 36) is None


def test_flac_codec_roundtrips_and_rejects(spark):
    """r6: FLAC decodes for REAL (operators/flac.py — the full public
    spec).  FLAC is lossless, so every encode knob must round-trip
    BYTE-EQUAL: subframe kinds (constant/verbatim/fixed 0-4/LPC),
    stereo decorrelation (left/right/mid-side with the bps+1 side
    channel), Rice method 0/1, partitioned + escape residuals, wasted
    bits, 8/12/16/20/24-bit depths.  CRC-8/CRC-16/STREAMINFO-md5 all
    verify: bit flips reject instead of emitting wrong samples.  Same
    conformance caveat as the other codecs: no external FLAC producer
    in this container — encoder/decoder validate each other + the
    in-stream md5 oracle."""
    import random as _r

    import numpy as np

    from ocr_document_recognition_service_spark.operators import flac

    rng = np.random.default_rng(7)
    mono = (
        rng.integers(-2000, 2000, 700).cumsum() % 20000 - 10000
    ).astype(np.int64)
    stereo = np.stack([mono, (mono * 3) // 4 + 17], axis=1)

    def rt(samples, **kw):
        enc = flac.encode_flac(samples, 44100, **kw)
        dec = flac.decode_flac(enc)
        assert dec is not None, kw
        want = np.asarray(samples)
        if want.ndim == 1:
            want = want[:, None]
        assert (dec[3] == want).all(), kw
        return enc

    for sf in ("verbatim", "constant", "fixed", "lpc"):
        src = np.zeros(500, dtype=np.int64) if sf == "constant" \
            else mono[:500]
        rt(src, subframe=sf)
    for cm in ("indep", "left_side", "right_side", "mid_side"):
        rt(stereo, channel_mode=cm)
    for order in range(5):
        rt(mono, subframe="fixed", fixed_order=order)
    rt(mono[:512], partition_order=3)
    rt(mono, rice2=True, partition_order=2)
    rt((mono[:256] % 8) - 4, subframe="fixed", fixed_order=1,
       escape_raw=12)
    rt((mono // 4) << 2, wasted_bits=2)
    rt(np.clip(mono // 256, -128, 127), bits=8)
    rt(np.clip(mono // 16, -2048, 2047), bits=12)
    rt(np.clip(mono * 16, -(1 << 19), (1 << 19) - 1), bits=20)
    rt(np.clip(mono * 256, -(1 << 23), (1 << 23) - 1), bits=24)
    # natural block-size/sample-rate codes (what external encoders
    # emit): 192 -> code 1, 1024 -> code 10, 44100 -> rate code 9;
    # 99 has no code and uses the explicit 16-bit form
    rt(mono, block_size=192)
    rt(mono, block_size=1024)
    rt(mono, block_size=99)

    # trailing bytes after the last frame (appended ID3v1-style tag)
    # must not reject the already-complete stream
    whole = flac.encode_flac(mono, 44100)
    tagged = whole + b"TAG" + b"\x00" * 125
    got = flac.decode_flac(tagged)
    assert got is not None and (got[3][:, 0] == mono).all()

    # a CRC-consistent stream whose residuals push samples outside the
    # declared bit depth must REJECT (md5 may legally be unset), not
    # emit int32-wrapped garbage or grow bignums (review repro)
    bs = 4
    si = flac._BitsOut()
    si.write(bs, 16); si.write(bs, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(7, 5)  # mono 8-bit
    si.write(bs, 36)
    info = si.bytes() + b"\x00" * 16  # md5 unset: spec-legal
    crafted = bytearray(b"fLaC")
    crafted += bytes([0x80]) + len(info).to_bytes(3, "big") + info
    w = flac._BitsOut()
    w.write(0x3FFE, 14); w.write(0, 2)
    w.write(7, 4); w.write(0, 4)      # explicit 16-bit bs, rate=info
    w.write(0, 4); w.write(1, 3); w.write(0, 1)  # mono, 8-bit
    w.write(0, 8)                     # frame number 0
    w.write(bs - 1, 16)
    hdr = w.bytes()
    hdr += bytes([flac._crc8(hdr)])
    sub = flac._BitsOut()
    sub.write(0, 1); sub.write(9, 6); sub.write(0, 1)  # FIXED order 1
    sub.write(127, 8)                 # warmup
    sub.write(0, 2); sub.write(0, 4)  # rice method 0, 1 partition
    sub.write(0xF, 4); sub.write(20, 5)  # escape: 20-bit raw residuals
    for _ in range(bs - 1):
        sub.write(300000, 20)         # legal coding, insane samples
    frame = hdr + sub.bytes()
    frame += flac._crc16(frame).to_bytes(2, "big")
    crafted += frame
    assert flac.decode_flac(bytes(crafted)) is None

    # integrity: truncations and flips reject via CRC/md5, never raise
    enc = flac.encode_flac(stereo, 44100, channel_mode="mid_side",
                           partition_order=2)
    for cut in range(0, len(enc), 3):
        out = flac.decode_flac(enc[:cut])
        assert out is None or len(out) == 4
    r = _r.Random(3)
    rejected = 0
    for _ in range(400):
        ba = bytearray(enc)
        ba[r.randrange(len(ba))] ^= 1 << r.randrange(8)
        if flac.decode_flac(bytes(ba)) is None:
            rejected += 1
    assert rejected > 380  # only ignored-header-field flips survive
    assert flac.decode_flac(b"not flac") is None
    assert flac.decode_flac(b"") is None

    # Spark path: flac rows land in the real tier next to WAV + stub
    df = spark.createDataFrame(
        [
            ("a://flac", multimodal.synthetic_flac_payload(4)),
            ("a://wav", multimodal.synthetic_wav_payload(0)),
            ("a://junk", b"\x00\x01mystery"),
        ],
        "url: string, payload: binary",
    )
    rows = {
        r["url"]: r["audio_meta"]
        for r in multimodal.decode_audio_meta(df).collect()
    }
    assert rows["a://flac"]["decoder"] == "flac"
    assert rows["a://flac"]["channels"] == 2
    st = flac.decode_flac_stats(multimodal.synthetic_flac_payload(4))
    assert rows["a://flac"]["sample_md5"] == st[7]
    assert rows["a://wav"]["decoder"] == "pcm"
    assert rows["a://junk"]["decoder"] == "stub"

    # deterministic fixture pin: any codec change must be deliberate
    assert hashlib.md5(
        flac.encode_flac(mono, 44100)
    ).hexdigest() == "61be8c9ddec162cffab8bdce009864d2"


def test_sample_video_frames_shape_and_determinism(spark):
    df = spark.createDataFrame(
        [(f"u{i}", b"payload-%d" % i) for i in range(6)] + [("null", None)],
        "url: string, payload: binary",
    )
    out1 = multimodal.sample_video_frames(df, n_frames=3).collect()
    out2 = multimodal.sample_video_frames(df, n_frames=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    rows = {(r["url"], r["frame_idx"]): r for r in out1}
    assert len(rows) == 18  # 6 payloads x 3 frames, null dropped
    assert all(r["decoder"] == "stub" and r["n_bytes"] == 64 for r in rows.values())
    assert all(r["src_frame"] is None and r["width"] is None for r in rows.values())


def test_mjpeg_avi_real_frame_decode(spark):
    """MJPEG-in-AVI frames decode for REAL: pixel bytes match decoding
    the very JPEG chunks the fixture embedded, sampling is even, and
    the Spark path agrees with the local extractor."""
    from ocr_document_recognition_service_spark.operators import jpeg as J

    avi = multimodal.synthetic_avi_payload(3, n_src_frames=10, w=24, h=16)

    # container walk finds exactly the 10 embedded chunks, in order
    offs = multimodal.parse_avi_mjpeg(avi)
    assert len(offs) == 10
    for off, size in offs:
        assert avi[off:off + 2] == b"\xff\xd8"  # each is a real JPEG

    # even sampling: 4 of 10 -> src frames {0, 3, 6, 9}
    frames = multimodal.extract_avi_frames(avi, 4)
    assert [f[0] for f in frames] == [0, 3, 6, 9]
    for src, w, h, mode, px in frames:
        assert (w, h, mode) == (24, 16, "L")
        off, size = offs[src]
        want = J.decode_jpeg(avi[off:off + size])
        assert px == want[3]  # pixels == decoding the chunk directly

    # fewer source frames than requested: all of them, once each
    short = multimodal.synthetic_avi_payload(1, n_src_frames=2)
    assert [f[0] for f in multimodal.extract_avi_frames(short, 4)] == [0, 1]

    # a torn frame degrades to the survivors, not a crash
    off0, size0 = offs[0]
    torn = avi[:off0] + b"\xff\xd8\x00\x00" + avi[off0 + 4:]
    got = multimodal.extract_avi_frames(torn, 4)
    assert [f[0] for f in got] == [3, 6, 9]

    # Spark path: real rows typed + flagged, stub fallback intact
    df = spark.createDataFrame(
        [("v://a", avi), ("p://b", b"not a video")],
        "url: string, payload: binary",
    )
    rows = multimodal.sample_video_frames(df, n_frames=4).collect()
    real = sorted(
        (r for r in rows if r["url"] == "v://a"), key=lambda r: r["frame_idx"]
    )
    assert [r["src_frame"] for r in real] == [0, 3, 6, 9]
    assert all(
        r["decoder"] == "mjpeg"
        and r["width"] == 24
        and r["height"] == 16
        and r["n_bytes"] == 24 * 16
        for r in real
    )
    assert bytes(real[0]["frame"]) == frames[0][4]
    stub = [r for r in rows if r["url"] == "p://b"]
    assert len(stub) == 4 and all(r["decoder"] == "stub" for r in stub)


def test_mjpeg_mov_sample_table_decode(spark):
    """QuickTime/MOV Motion-JPEG: the stsd/stsz/stsc/stco sample-table
    walk recovers every embedded JPEG (two-run stsc, both stco and the
    64-bit co64 form), frames decode byte-equal to decoding the
    samples directly, and non-MJPEG mp4s fall through to None."""
    from ocr_document_recognition_service_spark.operators import jpeg as J

    for i in (2, 3):  # even -> stco, odd -> co64
        mov = multimodal.synthetic_mov_payload(i, n_src_frames=10, w=24, h=16)
        offs = multimodal.parse_mov_mjpeg(mov)
        assert offs is not None and len(offs) == 10
        for off, size in offs:
            assert mov[off:off + 2] == b"\xff\xd8"
        frames = multimodal.extract_avi_frames(mov, 4)
        assert [f[0] for f in frames] == [0, 3, 6, 9]
        for src, w, h, mode, px in frames:
            assert (w, h, mode) == (24, 16, "L")
            off, size = offs[src]
            assert px == J.decode_jpeg(mov[off:off + size])[3]

    # cross-container parity: identical source pixels via AVI and MOV
    # decode to identical frames (same i seeds the same pixel ramp)
    avi = multimodal.synthetic_avi_payload(5, n_src_frames=10, w=24, h=16)
    mov = multimodal.synthetic_mov_payload(5, n_src_frames=10, w=24, h=16)
    fa = multimodal.extract_avi_frames(avi, 3)
    fm = multimodal.extract_avi_frames(mov, 3)
    assert [f[4] for f in fa] == [f[4] for f in fm]

    # the stsc two-run map: chunk 1 holds 4 samples, chunk 2 the rest,
    # so sample offsets are contiguous within each chunk
    offs = multimodal.parse_mov_mjpeg(mov)
    for a, b in zip(offs, offs[1:]):
        assert b[0] >= a[0] + a[1]  # forward AND non-overlapping
    assert offs[4][0] == offs[3][0] + offs[3][1]  # chunk-2 start abuts

    # an H.264-shaped mp4 (avc1 stsd) walks cleanly to None
    h264 = multimodal.synthetic_mov_payload(1, n_src_frames=3)
    j = h264.index(b"jpeg", 20)  # the stsd fourcc, not the ftyp brand
    h264 = h264[:j] + b"avc1" + h264[j + 4:]
    assert multimodal.parse_mov_mjpeg(h264) is None

    # truncated / malformed atoms never crash the walk
    good = multimodal.synthetic_mov_payload(0, n_src_frames=4)
    for cut in (10, 40, len(good) // 2, len(good) - 3):
        multimodal.parse_mov_mjpeg(good[:cut])  # may be None; no raise
    assert multimodal.parse_mov_mjpeg(b"\x00" * 3) is None
    assert multimodal.parse_mov_mjpeg(b"not a mov container here") is None

    # Spark path: MOV rows decode real, alongside the stub fallback
    df = spark.createDataFrame(
        [("v://mov", mov), ("p://x", b"not a video")],
        "url: string, payload: binary",
    )
    rows = multimodal.sample_video_frames(df, n_frames=3).collect()
    real = sorted(
        (r for r in rows if r["url"] == "v://mov"),
        key=lambda r: r["frame_idx"],
    )
    assert [r["src_frame"] for r in real] == [0, 4, 9]
    assert all(r["decoder"] == "mjpeg" and r["width"] == 24 for r in real)
    assert bytes(real[0]["frame"]) == fm[0][4]


def test_parse_mov_dead_first_trak_continues():
    """A JPEG-fourcc trak whose chunk offsets all fall OUTSIDE the file
    (dead preview track / truncated-and-remuxed mdat) yields zero
    in-bounds samples — the walk must continue to the next trak, not
    return the empty list (review-caught early return)."""
    good = multimodal.synthetic_mov_payload(2, n_src_frames=6, w=24, h=16)
    want = multimodal.parse_mov_mjpeg(good)
    assert want is not None and len(want) == 6

    # surgery: moov is the trailing atom, its body is one trak atom
    m = good.rfind(b"moov") - 4
    moov_body = good[m + 8:]
    assert moov_body[4:8] == b"trak"
    # dead twin: same tables, stco entries patched to past-EOF offsets
    dead = bytearray(moov_body)
    s = bytes(dead).index(b"stco")
    n = int.from_bytes(dead[s + 8:s + 12], "big")
    for k in range(n):
        dead[s + 12 + 4 * k:s + 16 + 4 * k] = (0x7FFFFFF0).to_bytes(4, "big")
    assert bytes(dead) != moov_body
    new_body = bytes(dead) + moov_body
    patched = good[:m] + (8 + len(new_body)).to_bytes(4, "big") \
        + b"moov" + new_body
    assert multimodal.parse_mov_mjpeg(patched) == want


def test_asof_join_matches_python_reference(spark):
    """As-of semantics vs a brute-force reference: greatest right.ts <=
    left.ts per key, inclusive ties, left-outer NULLs."""
    from ocr_document_recognition_service_spark.operators import windows

    lrows = [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 5, "c"), ("u3", 9, "d")]
    rrows = [("u1", 10, 1.0), ("u1", 15, 2.0), ("u2", 6, 3.0), ("u1", 3, 4.0)]
    left = spark.createDataFrame(lrows, "user_id: string, ts: long, tag: string")
    right = spark.createDataFrame(rrows, "user_id: string, ts: long, val: double")
    got = {
        (r["user_id"], r["ts"]): (r["asof_ts"], r["val"], r["tag"])
        for r in windows.asof_join(
            left, right, key="user_id", ts="ts", right_cols=["val"]
        ).collect()
    }
    def ref(k, t):
        cand = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
        return max(cand) if cand else (None, None)
    expect = {
        (k, t): (*ref(k, t), tag) for k, t, tag in lrows
    }
    assert got == expect
    assert got[("u1", 10)] == (10, 1.0, "a")   # inclusive tie
    assert got[("u3", 9)] == (None, None, "d") # left-outer NULLs


def test_range_join_bucketed_matches_brute_force(spark):
    """Bucketed equi-join + exact filter == naive interval containment,
    including intervals spanning many buckets and edge-inclusive ends."""
    import datetime as dt

    from ocr_document_recognition_service_spark.operators import windows

    base = dt.datetime(2024, 1, 1)
    iv_rows = [
        ("u1", 1, base, base + dt.timedelta(hours=5)),     # spans 6 buckets
        ("u1", 2, base + dt.timedelta(hours=8), base + dt.timedelta(hours=8, minutes=10)),
        ("u2", 1, base, base + dt.timedelta(minutes=30)),
    ]
    pr_rows = [
        ("u1", base + dt.timedelta(hours=2), "a"),
        ("u1", base + dt.timedelta(hours=5), "b"),          # inclusive end
        ("u1", base + dt.timedelta(hours=7), "c"),          # no match
        ("u2", base + dt.timedelta(minutes=30), "d"),       # inclusive end
        ("u2", base + dt.timedelta(hours=2), "e"),          # no match
    ]
    intervals = spark.createDataFrame(
        iv_rows, "user_id: string, session_id: long, t_start: timestamp, t_end: timestamp"
    )
    probes = spark.createDataFrame(
        pr_rows, "user_id: string, ts: timestamp, event_id: string"
    )
    got = {
        (r["event_id"], r["session_id"])
        for r in windows.range_join_bucketed(
            probes, intervals, "user_id", "ts", "t_start", "t_end", 3600
        ).collect()
    }
    expect = {
        (eid, sid)
        for (pu, ts, eid) in pr_rows
        for (iu, sid, s, e) in iv_rows
        if pu == iu and s <= ts <= e
    }
    assert got == expect and ("a", 1) in got and ("b", 1) in got


def test_asof_join_property_random(spark):
    """Randomized as-of semantics check: for arbitrary key/ts multisets
    (unique (key, ts) per side), the operator equals the brute-force
    greatest-right-ts-at-or-before reference."""
    import random as _r

    rng = _r.Random(1234)
    for trial in range(4):
        keys = ["a", "b", "c"]
        lrows = sorted(
            {(rng.choice(keys), rng.randint(0, 40)) for _ in range(25)}
        )
        rrows_set = {(rng.choice(keys), rng.randint(0, 40)) for _ in range(20)}
        rrows = [(k, t, float(t * 10 + hash(k) % 7)) for k, t in sorted(rrows_set)]
        left = spark.createDataFrame(
            [(k, t, f"{k}{t}") for k, t in lrows],
            "user_id: string, ts: long, tag: string",
        )
        right = spark.createDataFrame(
            rrows, "user_id: string, ts: long, val: double"
        )
        from ocr_document_recognition_service_spark.operators import windows

        got = {
            (r["user_id"], r["ts"]): (r["asof_ts"], r["val"])
            for r in windows.asof_join(
                left, right, key="user_id", ts="ts", right_cols=["val"]
            ).collect()
        }
        for k, t in lrows:
            cand = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
            expect = max(cand) if cand else (None, None)
            assert got[(k, t)] == expect, (trial, k, t)


def test_ap_report_matches_hand_computed(spark):
    """AP semantics on a tiny hand-checkable case.

    4 GTs (keys 1-4), 6 preds ranked by conf desc:
      conf 90 key=1 iou .9  best -> TP
      conf 80 key=2 iou .2  best -> FP (below thr .5)
      conf 70 key=3 iou .8  best -> TP
      conf 60 key=1 iou .95 not best (key 1 taken by conf 90) -> FP
      conf 50 key=4 iou .7  best -> TP
      conf 40 key=3 iou .9  not best -> FP
    Precision at TP ranks 1,3,5 = 1/1, 2/3, 3/5; n_gt = 4
    AP = (1 + 2/3 + 3/5) / 4 = 0.566667
    """
    from ocr_document_recognition_service_spark.operators import metrics

    rows = [
        (1, 1, 90.0, 0.9),
        (2, 1, 80.0, 0.2),
        (3, 1, 70.0, 0.8),
        (1, 2, 60.0, 0.95),
        (4, 1, 50.0, 0.7),
        (3, 2, 40.0, 0.9),
    ]
    preds = spark.createDataFrame(
        rows, "l_orderkey int, l_linenumber int, conf double, iou double"
    )
    # conf_band=25 forces multiple bands -> exercises the two-pass
    # offset join, not just the trivial single-group case
    out = metrics.ap_report(
        preds, thresholds=[0.5], key="l_orderkey", conf="conf",
        score="iou", tiebreak="l_linenumber", conf_band=25.0,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_gt"], r["n_pred"], r["n_tp"]) == (4, 6, 3)
    assert r["ap"] == round((1 + 2 / 3 + 3 / 5) / 4, 6)


def test_lsh_candidate_pairs_bounded_under_skew(spark):
    """A mega-bucket (N identical docs => every band signature shared)
    must emit <= N * cap pairs, not N^2/2, and every doc must stay
    connected to the bucket's representative (min doc_id)."""
    n, cap = 400, 16
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = dedup.lsh_candidate_pairs(
        docs, shingle="w3", bucket_cap=cap
    ).collect()
    assert len(pairs) <= n * cap
    assert len(pairs) < n * (n - 1) // 2  # the uncapped quadratic count
    # cluster connectivity: every doc appears in some pair with doc 0
    partners_of_0 = {r["doc_b"] for r in pairs if r["doc_a"] == 0}
    touched = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert touched == set(range(n))
    assert partners_of_0 == set(range(1, n))  # min doc is always indexed


def test_temperature_sample_rebalances(spark):
    """r7 w9: tau=1 preserves natural shares (every group keeps the
    same rate = target_frac), tau=0.5 flattens (low-resource keep
    RATE strictly above the dominant group's), tau=0 targets equal
    absolute counts per group; p <= 1 always, deterministic reruns."""
    from ocr_document_recognition_service_spark.operators import windows as W

    rows = (
        [(i, "big") for i in range(900)]
        + [(900 + i, "mid") for i in range(300)]
        + [(1200 + i, "small") for i in range(60)]
    )
    df = spark.createDataFrame(rows, "doc_id: long, lang: string")

    def rates(tau):
        out = W.temperature_sample(
            df, group_col="lang", tau=tau, target_frac=0.4
        ).collect()
        kept = {}
        p = {}
        for r in out:
            kept[r["lang"]] = kept.get(r["lang"], 0) + 1
            p[r["lang"]] = r["p_group"]
            assert r["p_group"] <= 1.0
        return kept, p

    kept1, p1 = rates(1.0)
    assert all(abs(v - 0.4) < 1e-9 for v in p1.values())  # natural shares
    kept05, p05 = rates(0.5)
    assert p05["small"] > p05["mid"] > p05["big"]  # flattened toward small
    assert kept05["small"] / 60 > kept05["big"] / 900
    kept0, p0 = rates(0.0)
    # tau=0: equal EXPECTED counts per group (168 each); small group
    # saturates at p=1 (60 < 168) — the least(1, ...) clamp
    assert p0["small"] == 1.0 and kept0["small"] == 60
    assert abs(kept0["big"] - kept0["mid"]) < 60  # both target ~168
    # determinism
    again, _ = rates(0.5)
    assert again == kept05


def test_balanced_sample_matches_plain_window(spark):
    """Both balanced_sample paths (numeric banded two-pass, string
    salted two-stage) must equal the naive full-group window result."""
    from ocr_document_recognition_service_spark.operators import windows as W

    rows = [(i, f"g{i % 3}", f"url{i:05d}") for i in range(997)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, url string")

    def naive(order_col):
        w = F.row_number().over(
            __import__("pyspark.sql", fromlist=["Window"]).Window
            .partitionBy("grp").orderBy(F.col(order_col).asc())
        )
        return {
            (r["grp"], r[order_col])
            for r in df.withColumn("rn", w).filter("rn <= 10").collect()
        }

    got_num = {
        (r["grp"], r["doc_id"])
        for r in W.balanced_sample(df, "grp", "doc_id", 10, group_size=100).collect()
    }
    assert got_num == naive("doc_id")
    got_str = {
        (r["grp"], r["url"])
        for r in W.balanced_sample(df, "grp", "url", 10).collect()
    }
    assert got_str == naive("url")


def test_decode_image_pixels_bmp_and_gray_png():
    """Real stdlib pixel decode: uncompressed 24-bit BMP and 8-bit
    greyscale PNG (all five row filters exercised by the generator)
    round-trip to the exact generator pixels; checksums pinned; other
    formats still raise the marked NotImplementedError."""
    w, h, mode, px = multimodal.decode_image_pixels(
        multimodal.synthetic_bmp_payload(3)
    )
    assert (w, h, mode) == (13, 7, "RGB")
    assert px == multimodal._px_stream(3, 13 * 7 * 3)
    assert hashlib.md5(px).hexdigest() == "810178d19183ecd1f6499c189c6c9e60"

    w, h, mode, px = multimodal.decode_image_pixels(
        multimodal.synthetic_gray_png_payload(5)
    )
    assert (w, h, mode) == (11, 10, "L")
    assert px == multimodal._px_stream(5, 11 * 10)
    assert hashlib.md5(px).hexdigest() == "0010e575476341cd3f47790a98f1f780"

    # header-only metadata path also recognises BMP now
    assert multimodal.parse_image_header(
        multimodal.synthetic_bmp_payload(3)
    ) == (13, 7, "RGB")

    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(multimodal.synthetic_image_payload(2))


def test_char_ngram_pairs_reach_short_docs(spark):
    """dd6's c3 candidate mode: docs with <3 words produce no word
    shingles, but char-3-gram MinHash still finds them (the w3 recall
    gap the old candidate path had)."""
    docs = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "kittens"),          # 1 word each — w3 gives no shingles
            (3, "completely different payload"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.char_ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_asof_join_raises_on_column_clash(spark):
    from ocr_document_recognition_service_spark.operators import windows as W

    left = spark.createDataFrame(
        [(1, 1.0, "x")], "k int, ts double, v string"
    )
    right = spark.createDataFrame(
        [(1, 0.5, "y")], "k int, ts double, v string"
    )
    with pytest.raises(ValueError, match="collide"):
        W.asof_join(left, right, key="k", ts="ts", right_cols=["v"])


def test_ap_report_matches_python_brute_force(spark):
    """Randomized (seeded) property: ap_report == a naive Python AP
    computation for every threshold, across band boundaries."""
    import random as _random

    from ocr_document_recognition_service_spark.operators import metrics

    rng = _random.Random(1234)
    rows = []
    ln = {}
    for i in range(300):
        key = rng.randrange(40)
        ln[key] = ln.get(key, 0) + 1
        rows.append((key, ln[key], round(rng.uniform(0, 1000), 3),
                     round(rng.random(), 4)))
    preds = spark.createDataFrame(
        rows, "k int, t int, conf double, iou double"
    )
    thresholds = [0.25, 0.5, 0.75]
    got = {
        r["iou_threshold"]: r
        for r in metrics.ap_report(
            preds, thresholds, key="k", conf="conf", score="iou",
            tiebreak="t", conf_band=37.0,
        ).collect()
    }

    for thr in thresholds:
        # python reference: greedy best per key by (conf desc, t asc)
        best = {}
        for k, t, c, iou in rows:
            cur = best.get(k)
            if cur is None or (-c, t) < (-cur[1], cur[2]):
                best[k] = (iou, c, t)
        tp_keys = {
            (k, v[1], v[2]) for k, v in best.items() if v[0] > thr
        }
        ranked = sorted(rows, key=lambda r: (-r[2], r[0], r[1]))
        cum = 0
        terms = []
        for i, (k, t, c, iou) in enumerate(ranked, start=1):
            if (k, c, t) in tp_keys and best[k] == (iou, c, t):
                cum += 1
                terms.append(cum / i)
        n_gt = len({k for k, *_ in rows})
        exp_ap = round(sum(terms) / n_gt, 6)
        r = got[thr]
        assert r["n_gt"] == n_gt and r["n_pred"] == len(rows)
        assert r["n_tp"] == len(terms)
        assert abs(r["ap"] - exp_ap) < 2e-6, (thr, r["ap"], exp_ap)


def test_lsh_cap_is_subset_and_exact_when_loose(spark, docs):
    """Capped candidate pairs ⊆ uncapped pairs, and == uncapped when
    the cap exceeds every bucket population."""
    d = docs.limit(120)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(d, bucket_cap=2).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(d, bucket_cap=None).collect()
    }
    loose = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(d, bucket_cap=10**6).collect()
    }
    assert capped <= uncapped
    assert loose == uncapped


def test_repetition_stats_hand_case(spark):
    from ocr_document_recognition_service_spark.operators import text_analysis

    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),       # 6 words, 2 distinct
            (2, "all words here are unique ok"),  # no repetition
            (3, "single"),                        # <2 words
            (4, ""),                                  # empty doc
            (5, "   "),                               # whitespace only
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text_analysis.repetition_stats(docs).collect()}
    r1 = rows[1]
    # 2-grams: [buy now, now buy, buy now, now buy, buy now] -> top=3/5
    assert r1["n_words"] == 6 and r1["n_2grams"] == 5
    assert r1["dup_word_frac"] == round(1 - 2 / 6, 6)
    assert r1["top_2gram_frac"] == 0.6
    r2 = rows[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["top_2gram_frac"] == round(1 / 5, 6)
    r3 = rows[3]
    assert (r3["n_2grams"], r3["top_2gram_frac"], r3["dup_word_frac"]) == (0, 0.0, 0.0)
    # empty / whitespace-only docs are NOT "maximally repetitive"
    for d in (4, 5):
        r = rows[d]
        assert (r["n_words"], r["dup_word_frac"], r["top_2gram_frac"]) == (0, 0.0, 0.0)


def test_dup_components_chain_and_cliques(spark):
    """Min-label propagation must merge transitive chains (a~b, b~c
    => one cluster) and converge on multi-clique graphs."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8),  # chain
         (10, 11), (11, 12), (10, 12),                            # clique
         (20, 21)],                                               # pair
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.dup_components(pairs).collect()
    }
    assert {got[i] for i in range(1, 9)} == {1}
    assert {got[i] for i in (10, 11, 12)} == {10}
    assert got[20] == 20 and got[21] == 20
    assert len(got) == 13


def test_embedding_dup_pairs_bounded_under_skew(spark):
    """A degenerate embedding corpus (every vector identical => ONE
    hyperplane bucket) must not go quadratic: with the index-side cap a
    bucket of M emits <= M * cap pairs, and the bucket minimum stays
    paired with every member (cluster connectivity)."""
    n, cap = 200, 8
    rows = [(i, [1.0] * 64) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    pairs = dedup.embedding_dup_pairs(
        emb, n_planes=6, threshold=0.5, bucket_cap=cap
    ).collect()
    assert 0 < len(pairs) <= n * cap
    assert len(pairs) < n * (n - 1) // 2  # the uncapped quadratic count
    partners_of_0 = {r["vec_b"] for r in pairs if r["vec_a"] == 0}
    touched = {r["vec_a"] for r in pairs} | {r["vec_b"] for r in pairs}
    assert touched == set(range(n))
    assert partners_of_0 == set(range(1, n))  # min vec is always indexed
    # uncapped control on a smaller corpus: all pairs emitted
    small = spark.createDataFrame(rows[:30], "vec_id: long, embedding: array<float>")
    uncapped = dedup.embedding_dup_pairs(
        small, n_planes=6, threshold=0.5, bucket_cap=None
    ).count()
    assert uncapped == 30 * 29 // 2


def test_pq_encode_reconstruction_properties(spark):
    """PQ encode invariants: one row per vector with n_sub codes in
    [0, k); qerr ≥ 0 and equals the sum of per-subspace nearest-
    centroid distances; a vector that IS an init centroid pre-round
    still encodes deterministically; and encoding is idempotent wrt
    the trained codebooks (explicit codebooks give identical output).
    ADC contract: for a near-duplicate pair, each one's nearest
    neighbor by ADC is its mate (codes collide per subspace, ADC ≈
    2×qerr-ish small) despite never reading the mate's vector."""
    import random as _r

    rng = _r.Random(17)
    rows = []
    for i in range(0, 120, 2):  # 60 near-dup pairs
        base = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((i, base))
        rows.append(
            (i + 1, [round(x + rng.uniform(-0.002, 0.002), 4) for x in base])
        )
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    books = similarity.pq_codebooks(emb, n_sub=8, k=16, iters=1)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    enc = {
        r["vec_id"]: r
        for r in similarity.pq_encode(
            emb, n_sub=8, k=16, iters=1, codebooks=books
        ).collect()
    }
    assert len(enc) == 120
    valid_codes = [{c for c, _v in b} for b in books]
    for r in enc.values():
        assert len(r["codes"]) == 8
        assert all(c in valid_codes[s] for s, c in enumerate(r["codes"]))
        assert r["qerr"] >= 0
    # explicit-codebook path == trained path (same training contract)
    enc2 = {
        r["vec_id"]: r
        for r in similarity.pq_encode(emb, n_sub=8, k=16, iters=1).collect()
    }
    assert {v: tuple(r["codes"]) for v, r in enc.items()} == {
        v: tuple(r["codes"]) for v, r in enc2.items()
    }

    top = similarity.pq_adc_topk(emb, n_queries=6, k_neighbors=1)
    nn = {r["query_id"]: r["neighbor_id"] for r in top.collect()}
    mates_found = sum(nn.get(q) == q ^ 1 for q in range(6))
    assert mates_found >= 5  # ADC finds the near-dup mate from codes


def test_ivfpq_finds_cluster_mates_and_prunes(spark):
    """IVFPQ: near-dup mates land in the same Lloyd cell, so the
    probed-cell ADC scan finds them top-1 (same geometry as the PQ
    test); and pruning is real — every returned neighbor's primary
    cell is among the query's probed cells."""
    import random as _r

    rng = _r.Random(17)
    rows = []
    for i in range(0, 120, 2):
        base = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        rows.append((i, base))
        rows.append(
            (i + 1, [round(x + rng.uniform(-0.002, 0.002), 4) for x in base])
        )
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    top = similarity.ivfpq_topk(
        emb, n_queries=6, k_neighbors=1, n_cells=8, n_probe=2
    )
    nn = {r["query_id"]: r["neighbor_id"] for r in top.collect()}
    assert sum(nn.get(q) == q ^ 1 for q in range(6)) >= 5

    # pruning invariant: neighbors come only from probed cells
    assign = similarity._kmeans_assigner(emb, 8, 1)
    cells = {r["vec_id"]: r["cell"] for r in assign(1).collect()}
    probed: dict[int, set] = {}
    for r in assign(2).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell"])
    full = similarity.ivfpq_topk(
        emb, n_queries=6, k_neighbors=10, n_cells=8, n_probe=2
    )
    for r in full.collect():
        assert cells[r["neighbor_id"]] in probed[r["query_id"]]


def test_pq_adc_matches_python_reference(spark):
    """The table-based ADC scan against a plain-Python reference over
    the same ``pq_codebooks``/``pq_encode`` output: each subspace term
    ‖q_s − codebook_s[code_s]‖² and the sum are Decimal HALF_UP to
    6 dp (Spark/DuckDB ``round(…, 6)``), ranked by (adc asc, neighbor
    asc), self excluded.  Covers ``pq_adc_topk`` with a custom query
    frame and ``ivfpq_topk`` with every cell probed and no cell cap,
    where the probe-pruned candidate set is the whole corpus."""
    import random as _r
    from decimal import ROUND_HALF_UP, Decimal

    rng = _r.Random(23)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(150)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    books = similarity.pq_codebooks(emb, n_sub=8, k=16, iters=1)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.pq_encode(emb, codebooks=books).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q6 = Decimal("0.000001")

    def r6(x):
        return Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP)

    def adc(q, v):
        total = Decimal(0)
        for s, book in enumerate(books):
            cent = dict(book)[codes[v][s]]
            qs = vecs[q][s * 8 : (s + 1) * 8]
            total += r6(sum((a - b) * (a - b) for a, b in zip(qs, cent)))
        return float(total.quantize(q6, rounding=ROUND_HALF_UP))

    def reference(qids, k):
        out = []
        for q in qids:
            ranked = sorted((adc(q, v), v) for v in vecs if v != q)
            out += [(q, v, i + 1, d) for i, (d, v) in enumerate(ranked[:k])]
        return sorted(out)

    qs = emb.filter(F.col("vec_id") % 17 == 3)
    got = sorted(
        tuple(r)
        for r in similarity.pq_adc_topk(emb, k_neighbors=3, queries=qs).collect()
    )
    assert got == reference([v for v in vecs if v % 17 == 3], 3)

    got = sorted(
        tuple(r)
        for r in similarity.ivfpq_topk(
            emb, n_queries=6, k_neighbors=3, n_cells=8, n_probe=8,
            cell_cap=None,
        ).collect()
    )
    assert got == reference(range(6), 3)


def test_embedding_dup_multi_table_superset(spark):
    """r7 multi-table OR-probing: table 0 uses the same seed as the
    single-table path, so the 2-table candidate set is a strict
    superset — every dd5 pair survives, and a pair split by table 0's
    planes but joined by table 1's appears.  Also guards the
    pair-uniqueness contract (DISTINCT across tables)."""
    import random as _r

    rng = _r.Random(31)
    rows = []
    vid = 0
    # jitter sized so mates stay >= cosine 0.99 (~4 deg apart) but a
    # few pairs straddle a table-0 hyperplane (P ~ 0.1/table)
    for _c in range(60):  # near-dup pairs
        base = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(2):
            rows.append(
                (vid, [round(x + rng.uniform(-0.025, 0.025), 4) for x in base])
            )
            vid += 1
    for _ in range(80):
        rows.append((vid, [round(rng.uniform(-1, 1), 4) for _ in range(64)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    one = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_dup_pairs(
            emb, n_planes=6, threshold=0.99, bucket_cap=64
        ).collect()
    }
    two_rows = dedup.embedding_dup_pairs(
        emb, n_planes=6, threshold=0.99, bucket_cap=64, n_tables=2
    ).collect()
    two = {(r["vec_a"], r["vec_b"]) for r in two_rows}
    assert one <= two
    assert len(two) > len(one)          # table 1 recovered split pairs
    assert len(two_rows) == len(two)    # DISTINCT held: no double-scoring
    import pytest

    with pytest.raises(ValueError, match="n_planes"):
        dedup.embedding_dup_pairs(
            emb, planes=similarity.hyperplanes(6), n_tables=2
        )


def test_semantic_dedup_hand_case(spark):
    """r6 dd10 (SemDeDup): two well-separated semantic clusters plus a
    lone outlier; within each cluster every non-minimum vector must be
    dropped as dup_of a smaller-id mate, cluster minima and the
    outlier must be kept, and comparisons must never cross cells (the
    outlier scores ~0 against everything)."""
    import numpy as np

    rng = np.random.default_rng(5)
    base_a = rng.normal(0, 1, 64)
    base_b = -base_a  # antipodal: guaranteed different k-means cells
    rows = []
    for i in range(4):  # cluster A: ids 0-3, tiny perturbations
        v = base_a + rng.normal(0, 0.001, 64)
        rows.append((i, [float(x) for x in v]))
    for i in range(4, 7):  # cluster B: ids 4-6
        v = base_b + rng.normal(0, 0.001, 64)
        rows.append((i, [float(x) for x in v]))
    ortho = np.zeros(64)
    ortho[0], ortho[1] = base_a[1], -base_a[0]  # ⟂ in the (0,1) plane
    rows.append((7, [float(x) for x in ortho]))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, n_cells=2, iters=2, threshold=0.9
        ).collect()
    }
    assert len(out) == 8
    kept = {v for v, r in out.items() if not r["is_dup"]}
    # cluster minima (0 and 4) kept; the orthogonal outlier kept
    assert 0 in kept and 4 in kept and 7 in kept
    for v in (1, 2, 3):
        assert out[v]["is_dup"] and out[v]["dup_of"] == 0, out[v]
        assert out[v]["cosine"] > 0.99
    for v in (5, 6):
        assert out[v]["is_dup"] and out[v]["dup_of"] == 4, out[v]
    # cells partition A from B (comparisons never crossed)
    cells_a = {out[v]["cell"] for v in (0, 1, 2, 3)}
    cells_b = {out[v]["cell"] for v in (4, 5, 6)}
    assert len(cells_a) == 1 and len(cells_b) == 1 and cells_a != cells_b

    # cap contract: with cell_cap=1 only the minimum indexes, every
    # other member still probes and pairs with it
    capped = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, n_cells=2, iters=2, threshold=0.9, cell_cap=1
        ).collect()
    }
    assert all(capped[v]["dup_of"] == 0 for v in (1, 2, 3))
    assert all(capped[v]["dup_of"] == 4 for v in (5, 6))


def test_simhash_width_for_corpus_scaling():
    """r6: the planes_for_corpus twin for banded SimHash — band bits
    grow with the corpus so bucket population stays ≈ target (measured
    recall collapse at unscaled width motivated this; bench_recall.py).
    Width stays ≤ 60: the packed signature is one signed long."""
    w = dedup.simhash_width_for_corpus
    assert w(64) == 4            # tiny corpus: 1 bit per band
    assert w(100_000) == 44      # ceil(log2(100000/64)) = 11 → 4×11
    assert w(2_000_000) == 60    # hits the signed-long ceiling
    assert w(10**12) == 60       # stays packable
    assert w(100_000, n_bands=2) == 22
    # monotone in corpus size
    prev = 0
    for n in (10, 1000, 10**5, 10**7, 10**9):
        cur = w(n)
        assert cur >= prev
        prev = cur
    # the width it recommends is accepted by simhash_bits' contract
    assert all(w(n) <= 63 for n in (10, 10**6, 10**12))


def test_simhash_bits_rejects_unpackable_width(spark):
    """r6 ADVICE: n_bits > 63 can't pack into one signed long — the
    guard fails loud at call time instead of an opaque overflow deep
    in the plan."""
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="63"):
        dedup.simhash_bits(df, n_bits=64)
    dedup.simhash_bits(df, n_bits=63)  # boundary accepted


def test_simhash_near_pairs_bounded_under_skew(spark):
    """N identical docs share every SimHash band value (one mega-bucket
    per band); the index-side cap bounds pairs to <= N * cap while the
    bucket minimum stays connected to every member."""
    n, cap = 200, 8
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_near_pairs(docs, bucket_cap=cap).collect()
    assert 0 < len(pairs) <= n * cap
    assert len(pairs) < n * (n - 1) // 2
    partners_of_0 = {r["doc_b"] for r in pairs if r["doc_a"] == 0}
    touched = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    assert touched == set(range(n))
    assert partners_of_0 == set(range(1, n))
    assert all(r["hamming"] == 0 for r in pairs)


def test_cell_probe_bounded_under_skew(spark):
    """IVF probe over one mega-cell: with the cell cap, per-query
    candidate fan-out is bounded by cell_cap; uncapped it is N-1."""
    n, cap = 120, 8
    rows = [(i, [1.0] * 64) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cells = emb.select("vec_id", F.lit(0).alias("cell"))
    got = similarity._cell_probe_topk(cells, emb, k=n, cell_cap=cap)
    per_q = {
        r["query_id"]: r["n"]
        for r in got.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert len(per_q) == n  # every vector still probes
    assert max(per_q.values()) <= cap
    uncapped = similarity._cell_probe_topk(cells, emb, k=n, cell_cap=None)
    worst = (
        uncapped.groupBy("query_id").agg(F.count("*").alias("n"))
        .agg(F.max("n")).collect()[0][0]
    )
    assert worst == n - 1


def test_ap_report_decimal_conf_and_lazy_band(spark):
    """conf_band=None must (a) not run a driver-side collect (the band
    is a broadcast 1-row agg inside the plan) and (b) survive a
    DecimalType confidence column."""
    from ocr_document_recognition_service_spark.operators import metrics

    rows = [(1, 1, "0.90", 0.8), (1, 2, "0.80", 0.2),
            (2, 1, "0.70", 0.9), (3, 1, "0.60", 0.1)]
    preds = spark.createDataFrame(
        rows, "k long, line long, conf string, iou double"
    ).select("k", "line", F.col("conf").cast("decimal(10,4)").alias("conf"), "iou")
    # plan construction must not trigger any job (lazy composition)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = metrics.ap_report(
        preds, thresholds=[0.5], key="k", conf="conf",
        score="iou", tiebreak="line", conf_band=None,
    )
    assert tracker.getJobIdsForGroup(None) == before
    out = df.collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_gt"], r["n_pred"], r["n_tp"]) == (3, 4, 2)
    # ranks by conf desc: 0.9(TP,p=1/1), 0.8(FP), 0.7(TP,p=2/3), 0.6(FP)
    assert r["ap"] == round((1.0 + 2 / 3) / 3, 6)


def test_dup_components_long_chain_converges(spark):
    """A 300-link path graph (diameter 300) must converge within the
    default 32-iteration bound — pointer jumping makes rounds scale
    with log(diameter), where one-hop propagation would need 300."""
    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    out = dedup.dup_components(pairs).collect()
    assert len(out) == n + 1
    assert {r["component_id"] for r in out} == {0}


def test_decode_image_pixels_rgb_and_palette_png():
    """r4 stub shrink: 8-bit truecolour and paletted PNG decode with
    the pure-stdlib path (zlib + filter reversal + PLTE lookup);
    checksums pinned; the loud stub now covers only JPEG-entropy/
    interlaced/16-bit PNG/video."""
    w, h, mode, px = multimodal.decode_image_pixels(
        multimodal.synthetic_rgb_png_payload(7)
    )
    assert (w, h, mode) == (9, 8, "RGB")
    assert px == multimodal._px_stream(7, 9 * 8 * 3)
    assert hashlib.md5(px).hexdigest() == "d28f5c558e6a5a7015be9d02831affb8"

    payload, expected = multimodal.synthetic_palette_png_payload(4)
    w, h, mode, px = multimodal.decode_image_pixels(payload)
    assert (w, h, mode) == (10, 9, "RGB")
    assert px == expected
    assert hashlib.md5(px).hexdigest() == "fd87c84197767f8dbff68a2905337ef0"


def test_planes_for_corpus_scaling():
    """n_planes grows with log2(corpus/target): expected bucket size
    stays ~target, so candidate joins stay linear as the corpus grows."""
    assert similarity.planes_for_corpus(10) == 1
    assert similarity.planes_for_corpus(64 * 64) == 6
    assert similarity.planes_for_corpus(10**6) == 14
    assert similarity.planes_for_corpus(10**9) == 24
    assert similarity.planes_for_corpus(10**12) == 30  # max_planes cap


def test_embedding_dup_pairs_auto_planes(spark, monkeypatch):
    """r6 verdict: scale-safe bucketing is the DEFAULT and plan
    construction NEVER runs a hidden Spark job — the hyperplane count
    derives via planes_for_corpus from the required explicit n_vectors
    (no count scan), and omitting every sizing input fails loud
    instead of silently executing the upstream subtree."""
    import pytest
    from pyspark.sql import DataFrame

    seen = []
    real = similarity.planes_for_corpus

    def spy(n, **kw):
        seen.append(n)
        return real(n, **kw)

    monkeypatch.setattr(similarity, "planes_for_corpus", spy)

    def no_jobs(self, *a, **kw):  # any eager action during plan build
        raise AssertionError("plan construction ran a Spark action")

    import random as _r

    rng = _r.Random(5)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(150)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    with pytest.raises(ValueError, match="n_vectors"):
        dedup.embedding_dup_pairs(emb, threshold=0.99)
    monkeypatch.setattr(DataFrame, "count", no_jobs)
    monkeypatch.setattr(DataFrame, "collect", no_jobs)
    out = dedup.embedding_dup_pairs(emb, n_vectors=10**6, threshold=0.99)
    assert seen == [10**6]  # caller-supplied size: no count scan
    monkeypatch.undo()
    out.count()  # plan still executes
    assert real(1_000) < real(10**6) < real(10**9)


def test_contamination_flags_ngram_semantics(spark):
    """r5: benchmark decontamination — exactly the docs sharing a word
    8-gram with the probe set are flagged; 7-word overlaps and
    sub-8-word docs never are; hit counts are occurrence counts."""
    probe_text = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [
            (0, probe_text),  # the probe doc itself: trivially flagged
            (1, "xx alpha beta gamma delta epsilon zeta eta theta yy"),
            (2, "alpha beta gamma delta epsilon zeta eta SWAP iota"),
            (3, "alpha beta gamma delta epsilon zeta eta"),  # 7 words
            (4, "unrelated words entirely different from the probe set x"),
            # contains the same 8-gram TWICE -> n_hits 2
            (5, "alpha beta gamma delta epsilon zeta eta theta pad "
                "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id: long, text: string",
    )
    out = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in text_analysis.contamination_flags(
            docs, docs.filter(F.col("doc_id") == 0), n=8
        ).collect()
    }
    assert out[0] == (2, True)   # probe doc: grams at offsets 0 and 1
    assert out[1] == (1, True)   # embedded 8-gram
    assert out[2] == (0, False)  # one word swapped mid-gram: no 8-gram
    assert out[3] == (0, False)  # shorter than n
    assert out[4] == (0, False)
    assert out[5] == (2, True)   # occurrence count, not boolean


def test_semantic_dedup_probe2_recovers_cell_wall_split(spark):
    """r6 verdict: dd10's recall misses are cluster mates split across
    a cell wall.  Constructed geometry (iters=0 keeps the first-k
    quantizer): cells are the axis units e0..e7; vector 8 =
    0.6e0+0.55e1 lands in cell 0, its near-dup mate 9 = 0.55e0+0.6e1
    (cosine ≈ 0.996) lands in cell 1.  probe=1 cannot see the pair;
    n_probe=2 probes vector 9's runner-up cell 0 and flags it as
    dup_of 8 — index side stays primary, so kept rows are unchanged."""

    def axis(i, a=1.0):
        v = [0.0] * 64
        v[i] = a
        return v

    def mix(i, j, a, b):
        v = [0.0] * 64
        v[i], v[j] = a, b
        return v

    rows = [(i, axis(i)) for i in range(8)]
    rows.append((8, mix(0, 1, 0.6, 0.55)))
    rows.append((9, mix(0, 1, 0.55, 0.6)))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    p1 = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, n_cells=8, iters=0, threshold=0.99
        ).collect()
    }
    p2 = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, n_cells=8, iters=0, threshold=0.99, n_probe=2
        ).collect()
    }
    assert not p1[9]["is_dup"]                      # blind across the wall
    assert p2[9]["is_dup"] and p2[9]["dup_of"] == 8  # multi-probe sees it
    assert p2[9]["cell"] == p1[9]["cell"]            # primary cell reported
    # monotone: probe2's dup set contains probe1's (candidate superset)
    d1 = {v for v, r in p1.items() if r["is_dup"]}
    d2 = {v for v, r in p2.items() if r["is_dup"]}
    assert d1 <= d2


def test_two_level_assignment_exact_when_coarse_covers(spark):
    """Two-level assignment with coarse_probe ≥ n_coarse degenerates
    to the flat scan EXACTLY (every fine cell reachable), on arbitrary
    data — so the approximation is isolated to coarse truncation, and
    the k ≤ coarse_probe·k/kc regime is safe to switch over.  The flat
    ``_assign_to`` is a separate Spark-expression path, so this also
    checks the numpy kernel, primary and multi-probe, on uniform and
    on clustered + noise data."""
    import random as _r

    rng = _r.Random(77)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    flat = {
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(emb, n_cells=4, iters=1).collect()
    }
    # n_cells=4 → n_coarse=2; coarse_probe=2 probes both coarse cells
    two = {
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(
            emb, n_cells=4, iters=1, two_level=True, coarse_probe=2
        ).collect()
    }
    assert flat == two

    rng = _r.Random(21)
    rows = []
    vid = 0
    for c in range(12):  # 12 loose clusters + noise rows
        base = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(10):
            rows.append(
                (vid, [round(x + rng.uniform(-0.05, 0.05), 4) for x in base])
            )
            vid += 1
    for _ in range(40):
        rows.append((vid, [round(rng.uniform(-1, 1), 4) for _ in range(64)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cents = similarity._kmeans_centroids(emb, 12, 1, sample_cap=100)
    model = similarity._coarse_model(cents, 12, 64, 1)
    # n_cells=12 → n_coarse=4; coarse_probe=4 probes every coarse cell
    for n_probe in (1, 2):
        flat = sorted(
            tuple(r)
            for r in similarity._assign_to(emb, cents, n_probe).collect()
        )
        two = sorted(
            tuple(r)
            for r in similarity._assign_two_level(
                emb, model, n_probe, 4
            ).collect()
        )
        assert flat == two and len(two) == n_probe * len(rows), n_probe


def test_two_level_engine_parity(spark):
    """The numpy (mapInPandas) two-level kernel implements the
    assignment contract exactly — primary and multi-probe, with coarse
    truncation ACTIVE (coarse_probe 2 of 4) — on clustered + noise
    data.  The reference is plain Python: Σ(x−c)² per coarse and fine
    centroid, rounded 6dp HALF_UP on the shortest decimal repr
    (Decimal), the coarse_probe nearest coarse cells, then the n_probe
    nearest fine members, ties by cell asc."""
    import random as _r
    from decimal import ROUND_HALF_UP, Decimal

    def r6(v):
        return float(
            Decimal(repr(float(v))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def d2(x, c):
        return r6(sum((a - float(b)) ** 2 for a, b in zip(x, c)))

    rng = _r.Random(21)
    rows = []
    vid = 0
    for c in range(12):  # 12 loose clusters + noise rows
        base = [rng.uniform(-1, 1) for _ in range(64)]
        for _ in range(10):
            rows.append(
                (vid, [round(x + rng.uniform(-0.05, 0.05), 4) for x in base])
            )
            vid += 1
    for _ in range(40):
        rows.append((vid, [round(rng.uniform(-1, 1), 4) for _ in range(64)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    cents = similarity._kmeans_centroids(emb, 12, 1, sample_cap=100)
    model = similarity._coarse_model(cents, 12, 64, 1)
    coarse = list(zip(model["ccells"].tolist(), model["coarse"].tolist()))
    groups = {
        int(g): list(zip(gc.tolist(), gv.tolist()))
        for g, (gc, gv) in model["groups"].items()
    }
    assert len(coarse) > 2  # coarse_probe=2 truncates
    # float32 storage: the reference reads what the kernel reads
    stored = [(r["vec_id"], r["embedding"]) for r in emb.collect()]
    for n_probe in (1, 2):
        want = []
        for v, x in stored:
            probed = sorted(coarse, key=lambda gc: (d2(x, gc[1]), gc[0]))[:2]
            cand = [m for g, _c in probed for m in groups[g]]
            best = sorted(cand, key=lambda m: (d2(x, m[1]), m[0]))[:n_probe]
            want.extend((v, cell) for cell, _c in best)
        got = sorted(
            tuple(r)
            for r in similarity._assign_two_level(
                emb, model, n_probe, 2
            ).collect()
        )
        assert got == sorted(want), f"kernel divergence at n_probe={n_probe}"


def test_two_level_matches_flat_on_separated_clusters(spark):
    """With truncation ACTIVE (9 fine cells → 3 coarse, probe 2) and
    well-separated clusters, each vector's true centroid is inside its
    nearest coarse cell, so the two-level assignment equals the flat
    scan — the approximation only bites genuinely ambiguous rows."""
    import numpy as np

    rng = np.random.default_rng(9)
    centers = rng.normal(0, 1, (9, 64)) * 10  # far apart
    rows = []
    vid = 0
    # interleave clusters so the first-9 init gets one representative
    # per cluster (a prefix-only init would stack 9 near-identical
    # centroids and make nearest-centroid ties meaningless)
    for _ in range(12):
        for c in range(9):
            v = centers[c] + rng.normal(0, 0.01, 64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    flat = {
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(emb, n_cells=9, iters=1).collect()
    }
    two = {
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(
            emb, n_cells=9, iters=1, two_level=True, coarse_probe=2
        ).collect()
    }
    assert flat == two


def test_np_round6_matches_spark_half_up(spark):
    """r7 review CONFIRMED: naive floor(x*1e6+0.5) diverges from
    Spark's round(double, 6) — BigDecimal HALF_UP on the SHORTEST
    decimal repr — on ~.5e-6 boundary values (0.0005045 → Spark
    0.000505, naive 0.000504).  The numpy kernels' _np_round6 must
    match Spark exactly, fast path and Decimal fallback both."""
    import numpy as np
    from pyspark.sql import functions as F

    vals = [
        0.0005045, 0.0005055, 1.0000005, 2.3456785, 0.1234565,
        0.9999995, 123.4567895,           # boundary shapes
        0.0, 1e-7, 5e-7, 0.123456789, 3.75, 256.0, 17.123456,
    ]
    got = similarity._np_round6(np.array(vals, dtype=np.float64))
    want = (
        spark.range(1)
        .select(*[F.round(F.lit(v), 6).alias(f"c{i}") for i, v in enumerate(vals)])
        .collect()[0]
    )
    for i, v in enumerate(vals):
        assert got[i] == want[f"c{i}"], (
            f"{v!r}: arrow {got[i]!r} != spark {want[f'c{i}']!r}"
        )


def test_hash_order_sample_contract(spark):
    """The training sample is the cap smallest ids by
    (md5(str(id)), id) — deterministic, engine-agnostic (matches
    hashlib), and spread over the corpus rather than prefix-biased."""
    import hashlib

    n, cap = 500, 50
    rows = [(i, [float(i % 7)] * 4) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = [
        r["vec_id"]
        for r in similarity.hash_order_sample(emb, cap).collect()
    ]
    want = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:cap]
    assert got == want
    # unbiased spread: not the id prefix, and touches the top half
    assert got != list(range(cap))
    assert any(v >= n // 2 for v in got)


def test_sampled_training_deterministic_and_offplan(spark):
    """sample_cap trains Lloyd on the hash-order sample only: results
    are deterministic across runs, every vector still gets assigned,
    and shrinking the sample changes training input (different
    centroids) without breaking the assignment contract."""
    import random as _r

    rng = _r.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(
            emb, n_cells=8, iters=1, sample_cap=80
        ).collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(
            emb, n_cells=8, iters=1, sample_cap=80
        ).collect()
    )
    assert a == b
    assert len(a) == 200  # full corpus assigned, training was sampled


def test_materialize_cents_persisted_path_equal(spark, monkeypatch):
    """k > LITERAL_CENTS_MAX switches centroid materialization from
    literal rows to persist+broadcast (r6 verdict: no 300k-row literal
    on the driver); forcing the persisted path must not change a
    single assignment."""
    import random as _r

    rng = _r.Random(13)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)])
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    lit = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(emb, n_cells=8, iters=2).collect()
    )
    monkeypatch.setattr(similarity, "LITERAL_CENTS_MAX", 0)
    per = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.kmeans_cells(emb, n_cells=8, iters=2).collect()
    )
    assert lit == per


def test_ivf_multiprobe_recovers_boundary_misses(spark):
    """r4 verdict: probe=1 IVF misses a true nearest neighbor that sits
    just across a cell bisector; n_probe=2 probes the runner-up cell
    and recovers it, matching brute force.  Constructed geometry: cells
    are the 8 axis units e0..e7 (first-k quantizer); query 8 =
    0.6*e0 + 0.55*e1 lands in cell 0, its true NN vector 9 =
    0.55*e0 + 0.6*e1 lands in cell 1."""

    def axis(i, a=1.0):
        v = [0.0] * 64
        v[i] = a
        return v

    def mix(i, j, a, b):
        v = [0.0] * 64
        v[i], v[j] = a, b
        return v

    rows = [(i, axis(i)) for i in range(8)]
    rows.append((8, mix(0, 1, 0.6, 0.55)))   # query: cell 0, near bisector
    rows.append((9, mix(0, 1, 0.55, 0.6)))   # its true NN: cell 1
    # filler clearly inside cells 2..7 so they don't perturb the top-1
    for i in range(10, 22):
        rows.append((i, axis(2 + i % 6, 0.9)))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    def top1(df):
        return {
            r["query_id"]: r["neighbor_id"]
            for r in df.filter(F.col("rank") == 1).collect()
        }

    brute = top1(similarity.cosine_topk_arrays(emb, emb, k=1))
    p1 = top1(similarity.ivf_topk(emb, n_cells=8, k=1, n_probe=1))
    p2 = top1(similarity.ivf_topk(emb, n_cells=8, k=1, n_probe=2))

    assert brute[8] == 9          # the true neighbor
    assert p1[8] != 9             # probe=1 is blind across the bisector
    assert p2[8] == 9             # multi-probe recovers it
    # and multi-probe never loses recall vs probe=1
    r1 = sum(p1.get(q) == n for q, n in brute.items())
    r2 = sum(p2.get(q) == n for q, n in brute.items())
    assert r2 >= r1 and r2 > r1


def test_jpeg_baseline_gray_codec_roundtrip():
    """r4: REAL baseline greyscale JPEG entropy decode (pure
    stdlib+numpy — canonical Annex-K Huffman, DC prediction, AC RLE,
    dequantize, IDCT).  The matching encoder produces real JFIF bytes;
    DCT quantization is lossy so round-trips pin (a) exact md5 of the
    decoded pixels (determinism) and (b) error bounds: flat images
    exact, smooth gradients within 2, noise mean error bounded."""
    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg

    cases = {
        (3, 16, 16): "e4aa7d252c028bc5b2c6e068625a5bb2",
        (5, 13, 9): "6a025e2adc0650e064a5cc249ee704d7",
        (9, 8, 24): "e26416f2bb3aecd5fdd7d6780f33e2e7",
    }
    for (i, w, h), md5 in cases.items():
        px = multimodal._px_stream(i, w * h)
        enc = jpeg.encode_gray_jpeg(px, w, h)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        # header metadata path agrees with the full decode
        assert multimodal.parse_image_header(enc)[:2] == (w, h)
        gw, gh, mode, out = multimodal.decode_image_pixels(enc)
        assert (gw, gh, mode) == (w, h, "L")
        assert hashlib.md5(out).hexdigest() == md5
        a = np.frombuffer(px, dtype=np.uint8).astype(int)
        b = np.frombuffer(out, dtype=np.uint8).astype(int)
        assert np.abs(a - b).mean() < 20  # random noise, Annex-K quant

    flat = bytes([128]) * 256
    out = jpeg.decode_gray_jpeg(jpeg.encode_gray_jpeg(flat, 16, 16))[3]
    assert out == flat  # flat blocks survive exactly
    grad = bytes([(x * 255) // 31 for _ in range(16) for x in range(32)])
    out = jpeg.decode_gray_jpeg(jpeg.encode_gray_jpeg(grad, 32, 16))[3]
    assert max(abs(a - b) for a, b in zip(grad, out)) <= 2

    # header-only JPEG fixture (no DHT/SOS/entropy data): rejected by
    # the real decoder, falls to the stub path
    assert jpeg.decode_gray_jpeg(multimodal.synthetic_image_payload(2)) is None
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(multimodal.synthetic_image_payload(2))


def test_jpeg_colour_codec_444_and_420():
    """r4: colour baseline JPEG — 3-component YCbCr through the generic
    MCU loop at 4:4:4 and 4:2:0 (2x2 box-mean chroma, replication
    upsample).  Channel order pinned by primary-colour patches; smooth
    content within tight error bounds; decoded bytes md5-pinned."""
    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg

    w, h = 32, 24
    px = bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in (min(255, 50 + x * 4), min(255, 40 + y * 5),
                  min(255, 60 + x * 2 + y * 2))
    )
    a = np.frombuffer(px, dtype=np.uint8).astype(int)
    pinned = {
        False: ("1ff5610456fab66ab5200f87caa8b519", 8),
        True: ("4860a02af7a838d6cae45713dadfe68c", 12),
    }
    for sub, (md5, bound) in pinned.items():
        enc = jpeg.encode_rgb_jpeg(px, w, h, subsample=sub)
        gw, gh, mode, out = multimodal.decode_image_pixels(enc)
        assert (gw, gh, mode) == (w, h, "RGB")
        assert hashlib.md5(out).hexdigest() == md5
        b = np.frombuffer(out, dtype=np.uint8).astype(int)
        assert np.abs(a - b).max() <= bound

    # primary-colour patches pin the YCbCr matrices and channel order
    img = bytearray()
    for _ in range(8):
        for patch in ([255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]):
            img += bytes(patch) * 8
    out = jpeg.decode_jpeg(jpeg.encode_rgb_jpeg(bytes(img), 32, 8))[3]
    m = np.frombuffer(out, dtype=np.uint8).reshape(8, 32, 3).astype(int)
    for cx, want in ((4, (255, 0, 0)), (12, (0, 255, 0)),
                     (20, (0, 0, 255)), (28, (255, 255, 255))):
        assert np.abs(m[4, cx] - np.array(want)).max() <= 4

    # odd dimensions survive 4:2:0 MCU padding
    px2 = multimodal._px_stream(11, 13 * 9 * 3)
    o = jpeg.decode_jpeg(jpeg.encode_rgb_jpeg(px2, 13, 9, subsample=True))
    assert o[:3] == (13, 9, "RGB") and len(o[3]) == 13 * 9 * 3


def test_decode_adam7_interlaced_png():
    """r4: Adam7-interlaced PNG decode — seven independently-filtered
    sub-images scattered back onto the raster; round-trips to the
    exact generator pixels across grey/RGB and awkward dimensions
    (incl. 1x1 and sub-8 sizes where several passes are empty)."""
    for ctype, mode, bpp in ((0, "L", 1), (2, "RGB", 3)):
        for (w, h) in ((11, 10), (3, 2), (16, 9), (1, 1)):
            pay = multimodal.synthetic_interlaced_png_payload(7, w, h, ctype)
            got = multimodal.decode_image_pixels(pay)
            assert got[:3] == (w, h, mode)
            assert got[3] == multimodal._px_stream(7, w * h * bpp)
    # interlaced decode == non-interlaced decode of the same raster
    a = multimodal.decode_image_pixels(
        multimodal.synthetic_interlaced_png_payload(5)
    )
    b = multimodal.decode_image_pixels(
        multimodal.synthetic_gray_png_payload(5)
    )
    assert a == b
    assert hashlib.md5(a[3]).hexdigest() == "0010e575476341cd3f47790a98f1f780"


def test_decode_16bit_png_high_byte_reduction():
    """r4: 16-bit grey/RGB PNG decodes via the same filter machinery
    (bpp doubles) with the standard high-byte 16->8 reduction — output
    is byte-per-sample and equals the high bytes exactly."""
    import zlib

    w, h = 9, 7
    hi = multimodal._px_stream(3, w * h)
    lo = multimodal._px_stream(4, w * h)
    px16 = b"".join(bytes((hi[k], lo[k])) for k in range(w * h))
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 0, 0, 0, 0])
    )
    pay = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(
            b"IDAT", zlib.compress(multimodal._png_forward_filter(px16, w, h, 2))
        )
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert multimodal.decode_image_pixels(pay) == (w, h, "L", hi)

    hi3 = multimodal._px_stream(8, w * h * 3)
    px16rgb = b"".join(
        bytes((hi3[k], lo[k % (w * h)])) for k in range(w * h * 3)
    )
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    )
    pay = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(
            b"IDAT",
            zlib.compress(multimodal._png_forward_filter(px16rgb, w, h, 6)),
        )
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert multimodal.decode_image_pixels(pay) == (w, h, "RGB", hi3)


def test_decode_la_rgba_png():
    """r4: PNG colour types 4 (grey+alpha) and 6 (RGBA) round-trip
    byte-exact through the same filter machinery."""
    import zlib

    for ctype, mode, ch in ((4, "LA", 2), (6, "RGBA", 4)):
        w, h = 7, 5
        px = multimodal._px_stream(2, w * h * ch)
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, ctype, 0, 0, 0])
        )
        pay = (
            multimodal._PNG_SIG
            + multimodal._png_chunk(b"IHDR", ihdr)
            + multimodal._png_chunk(
                b"IDAT",
                zlib.compress(multimodal._png_forward_filter(px, w, h, ch)),
            )
            + multimodal._png_chunk(b"IEND", b"")
        )
        assert multimodal.decode_image_pixels(pay) == (w, h, mode, px)


REFERENCE_IMAGES = "/root/reference/core"


@pytest.mark.skipif(
    not __import__("os").path.isdir(REFERENCE_IMAGES),
    reason="reference fixtures not present outside the build sandbox",
)
def test_decode_real_reference_images():
    """External validation: every image file shipped by the reference
    repo (real-world JPEGs from standard encoders + PNGs) decodes with
    OUR codecs — no image library — to header-consistent dimensions
    with natural-image statistics (mean adjacent-pixel delta far below
    the ~85 of random bytes)."""
    import glob
    import os

    import numpy as np

    files = sorted(
        glob.glob(os.path.join(REFERENCE_IMAGES, "**", "*.png"), recursive=True)
        + glob.glob(os.path.join(REFERENCE_IMAGES, "**", "*.jp*g"), recursive=True)
    )
    assert len(files) >= 9
    chans = {"L": 1, "RGB": 3, "LA": 2, "RGBA": 4}
    for f in files:
        b = open(f, "rb").read()
        hw = multimodal.parse_image_header(b)
        w, h, mode, px = multimodal.decode_image_pixels(b)
        assert (w, h) == hw[:2], f
        ch = chans[mode]
        assert len(px) == w * h * ch, f
        a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch).astype(int)
        assert np.abs(np.diff(a[:, :, 0], axis=1)).mean() < 40, f


def test_decode_pixel_stats_spark_plumbing(spark):
    """The full pixel-decode stack runs inside the Arrow-batched UDF:
    every synthetic payload decodes natively with the md5 the pure-
    Python decoder pins; non-images report decoder='stub' per-row."""
    from ocr_document_recognition_service_spark.operators import jpeg

    payloads = [
        ("bmp", multimodal.synthetic_bmp_payload(3)),
        ("png", multimodal.synthetic_gray_png_payload(5)),
        ("ipng", multimodal.synthetic_interlaced_png_payload(5)),
        ("jpg", jpeg.encode_gray_jpeg(multimodal._px_stream(3, 256), 16, 16)),
        ("other", b"\x00\x01notanimage"),
    ]
    df = spark.createDataFrame(
        [(k, p) for k, p in payloads], "url: string, payload: binary"
    )
    got = {
        r["url"]: r
        for r in multimodal.decode_pixel_stats(df)
        .select("url", "pixel_stats.*")
        .collect()
    }
    for k, p in payloads[:-1]:
        w, h, mode, px = multimodal.decode_image_pixels(p)
        r = got[k]
        assert (r["width"], r["height"], r["mode"]) == (w, h, mode)
        assert r["pixel_md5"] == hashlib.md5(px).hexdigest()
        assert r["decoder"] == "native"
    assert got["other"]["decoder"] == "stub"
    # interlaced and straight PNG of the same raster hash identically
    assert got["png"]["pixel_md5"] == got["ipng"]["pixel_md5"]


def test_decoders_survive_fuzzed_payloads():
    """r4 robustness: truncations, bit flips and splices of every valid
    image fixture must decode, return the stub NotImplementedError, or
    be rejected — never raise anything else (at corpus scale one
    corrupt blob must not fail an Arrow batch)."""
    import random

    from ocr_document_recognition_service_spark.operators import jpeg

    rng = random.Random(77)
    payloads = [
        multimodal.synthetic_bmp_payload(1),
        multimodal.synthetic_gray_png_payload(2),
        multimodal.synthetic_rgb_png_payload(3),
        multimodal.synthetic_palette_png_payload(4)[0],
        multimodal.synthetic_interlaced_png_payload(5),
        jpeg.encode_gray_jpeg(multimodal._px_stream(6, 256), 16, 16),
        jpeg.encode_rgb_jpeg(multimodal._px_stream(7, 768), 16, 16),
        jpeg.encode_rgb_jpeg(
            multimodal._px_stream(8, 768), 16, 16, subsample=True
        ),
    ]
    for p in payloads:
        for _ in range(60):
            b = bytearray(p)
            op = rng.randrange(3)
            if op == 0:
                b = b[: rng.randrange(len(b))]
            elif op == 1:
                for _ in range(rng.randrange(1, 8)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            else:
                i = rng.randrange(len(b))
                b = b[:i] + bytes(rng.randrange(256) for _ in range(12)) + b[i:]
            try:
                multimodal.decode_image_pixels(bytes(b))
            except NotImplementedError:
                pass


def test_decoder_contract_on_crafted_payloads():
    """Review fixes pinned: (a) a PNG with a valid zlib stream but an
    invalid filter byte (or nonzero filter method) rejects cleanly to
    the stub path, never raising ValueError; (b) a single-component
    JPEG declaring sampling factors 2x2 decodes with non-interleaved
    geometry (T.81 A.2.2) — identical pixels to the 1x1 declaration."""
    import zlib

    from ocr_document_recognition_service_spark.operators import jpeg

    w, h = 5, 4
    # filter byte 7 on row 0: invalid, but the zlib stream is fine
    raw = bytes([7]) + bytes(w) + (bytes([0]) + bytes(w)) * (h - 1)
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])
    bad_filter = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(raw))
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(bad_filter)
    # nonzero IHDR filter-method byte: not PNG filter method 0
    ihdr_fm = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 0, 0, 1, 0])
    bad_method = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr_fm)
        + multimodal._png_chunk(
            b"IDAT", zlib.compress((bytes([0]) + bytes(w)) * h)
        )
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(bad_method)

    # grey JPEG with declared 2x2 sampling: scan geometry must ignore
    # the factors — patch the SOF sampling byte and expect identical
    # output to the stock encoding
    px = multimodal._px_stream(9, 24 * 24)
    enc = jpeg.encode_gray_jpeg(px, 24, 24)
    want = jpeg.decode_jpeg(enc)
    sof = enc.find(b"\xff\xc0")
    # FF C0 len(2) prec h(2) w(2) ncomp cid samp — sampling at sof+11
    assert enc[sof + 11] == 0x11
    patched = enc[: sof + 11] + b"\x22" + enc[sof + 12:]
    assert jpeg.decode_jpeg(patched) == want


def test_jpeg_progressive_equals_baseline():
    """r4: PROGRESSIVE JPEG (SOF2) — spectral selection AND successive
    approximation in both DC and AC directions (first + refinement
    scans, EOB runs with buffered correction bits).  The progressive
    fixture carries the SAME quantized coefficients as the baseline
    encoding, so progressive decode must equal baseline decode
    byte-for-byte — a format-level check independent of DCT math."""
    from ocr_document_recognition_service_spark.operators import jpeg

    for (i, w, h) in ((3, 16, 16), (5, 13, 9), (9, 24, 17), (4, 64, 48)):
        px = multimodal._px_stream(i, w * h)
        base = jpeg.decode_jpeg(jpeg.encode_gray_jpeg(px, w, h))
        prog = jpeg.decode_jpeg(jpeg.encode_progressive_jpeg(px, w, h))
        assert prog == base
    for (i, w, h) in ((7, 16, 16), (13, 32, 24)):
        px = multimodal._px_stream(i, w * h * 3)
        base = jpeg.decode_jpeg(jpeg.encode_rgb_jpeg(px, w, h))
        prog = jpeg.decode_jpeg(
            jpeg.encode_progressive_jpeg(px, w, h, color=True)
        )
        assert prog == base
    # 4:2:0 progressive (4-Y-block MCUs, chroma at half res) equals
    # the 4:2:0 baseline of the same coefficients, odd dims included
    for (i, w, h) in ((7, 16, 16), (13, 34, 23)):
        px = multimodal._px_stream(i, w * h * 3)
        assert jpeg.decode_jpeg(
            jpeg.encode_progressive_jpeg(px, w, h, color=True, subsample=True)
        ) == jpeg.decode_jpeg(jpeg.encode_rgb_jpeg(px, w, h, subsample=True))
    # restart markers: baseline RSTn every N MCUs and the progressive
    # DC-scan DRI path both reproduce the unrestarted decode
    px = multimodal._px_stream(5, 40 * 33)
    plain_b = jpeg.decode_jpeg(jpeg.encode_gray_jpeg(px, 40, 33))
    for ri in (1, 3, 7):
        assert jpeg.decode_jpeg(
            jpeg.encode_gray_jpeg(px, 40, 33, restart_interval=ri)
        ) == plain_b
    plain_p = jpeg.decode_jpeg(jpeg.encode_progressive_jpeg(px, 40, 33))
    for ri in (1, 3):
        assert jpeg.decode_jpeg(
            jpeg.encode_progressive_jpeg(px, 40, 33, dc_restart=ri)
        ) == plain_p
    # long-EOB-run shapes: flat and smooth-gradient rasters
    flat = bytes([128]) * (32 * 32)
    assert jpeg.decode_jpeg(
        jpeg.encode_progressive_jpeg(flat, 32, 32)
    ) == jpeg.decode_jpeg(jpeg.encode_gray_jpeg(flat, 32, 32))
    # the progressive path rides decode_image_pixels too
    out = multimodal.decode_image_pixels(
        jpeg.encode_progressive_jpeg(multimodal._px_stream(2, 256), 16, 16)
    )
    assert out[:3] == (16, 16, "L")


def test_jpeg_ac_refine_random_coefficient_roundtrips():
    """The AC-refinement scan pair (encoder = decoder-crossing
    simulation, decoder = T.81 G.1.2.3) round-trips random coefficient
    blocks at several successive-approximation levels."""
    import random as _random

    from ocr_document_recognition_service_spark.operators import jpeg

    rng = _random.Random(1)
    tree = jpeg._decode_tree(jpeg._PROG_AC_BITS, jpeg._PROG_AC_SYMS)

    def truncate(v, al):
        return (abs(v) >> al) * (1 if v >= 0 else -1)

    for _ in range(120):
        blocks = []
        for _b in range(rng.randrange(1, 9)):
            b = [0] * 64
            for _c in range(rng.randrange(0, 12)):
                b[rng.randrange(1, 64)] = rng.randrange(-31, 32)
            blocks.append(b)
        for ah, al in ((2, 1), (1, 0), (3, 2)):
            hist = [
                [truncate(v, ah) << ah if k else 0 for k, v in enumerate(b)]
                for b in blocks
            ]
            want = [
                [truncate(v, al) << al if k else 0 for k, v in enumerate(b)]
                for b in blocks
            ]
            out = jpeg._BitWriter()
            jpeg._enc_ac_refine(out, iter(blocks), jpeg._PROG_AC, 1, 63, al)
            sr = jpeg._ScanReader(out.flush())
            eobrun = 0
            decoded = [list(b) for b in hist]
            for coef in decoded:
                eobrun = jpeg._prog_ac_refine(sr, tree, coef, 1, 63, al, eobrun)
            assert decoded == want


def test_decode_gif_lzw_and_interlace():
    """r4: GIF pixel decode — real LZW decompression (variable-width
    codes, clear/EOI, early growth, 4096-entry resets) + colour-table
    lookup + 4-pass interlace reassembly; round-trips the real-LZW
    encoder byte-exact across palette sizes, incl. a raster big enough
    to force table resets."""
    for interlaced in (False, True):
        for (i, w, h, nc) in (
            (1, 14, 11, 16), (2, 7, 9, 4), (4, 1, 1, 2),
            (5, 16, 16, 256), (6, 120, 90, 32),
        ):
            pay, exp = multimodal.synthetic_gif_payload(
                i, w, h, nc, interlaced
            )
            got = multimodal.decode_image_pixels(pay)
            assert got[:3] == (w, h, "RGB")
            assert got[3] == exp
    # header-only GIF (no image descriptor) rejects to the stub path
    trunc = multimodal.synthetic_gif_payload(1)[0][:13]
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(trunc)


def test_decode_tiff_all_supported_shapes():
    """r4: TIFF — the scanned-document format — decodes for real:
    both byte orders, strip layouts, Compression none/PackBits/
    TIFF-LZW (MSB-first, EARLY width change), Predictor 2, and the
    four photometrics (WhiteIsZero inverts, palette maps ColorMap)."""
    from ocr_document_recognition_service_spark.operators import tiff

    w, h = 13, 9
    for big_endian in (False, True):
        for comp in (1, 5, 32773):
            for pred in (1, 2):
                for mode, spp in (("L", 1), ("RGB", 3)):
                    for rps in (None, 4):
                        px = multimodal._px_stream(3, w * h * spp)
                        enc = tiff.encode_tiff(
                            px, w, h, mode=mode, compression=comp,
                            predictor=pred, rows_per_strip=rps,
                            big_endian=big_endian,
                        )
                        assert multimodal.decode_image_pixels(enc) == (
                            w, h, mode, px
                        ), (big_endian, comp, pred, mode, rps)
    vis = multimodal._px_stream(4, 48)
    enc = tiff.encode_tiff(
        bytes(255 - v for v in vis), 8, 6, mode="L", photometric=0
    )
    assert multimodal.decode_image_pixels(enc) == (8, 6, "L", vis)
    idx = bytes(x % 256 for x in multimodal._px_stream(5, 48))
    enc = tiff.encode_tiff(idx, 8, 6, mode="P", compression=5)
    exp = b"".join(
        bytes((tiff._pal16(0, i) >> 8, tiff._pal16(1, i) >> 8,
               tiff._pal16(2, i) >> 8))
        for i in idx
    )
    assert multimodal.decode_image_pixels(enc) == (8, 6, "RGB", exp)
    # direct TIFF-LZW round-trips across width growth + table resets
    import random as _r

    rng = _r.Random(5)
    for t in range(40):
        n = rng.randrange(1, 9000)
        data = bytes(rng.randrange(256) for _ in range(n))
        assert tiff.tiff_lzw_decode(tiff.tiff_lzw_encode(data), n) == data


def test_g4_fax_codec_roundtrips():
    """r5 (r4 verdict #3): CCITT Group 4 / T.6 MMR — THE fax
    compression scanned documents ship in — implemented as a pure bit
    algorithm from the public spec.  Round-trips exercise every mode
    (pass / all 7 verticals / horizontal), every terminating code
    0-63 and every make-up boundary incl. the extended 1792-2560 table
    and chained >2624 runs.  Conformance caveat: no external G4 reader
    exists in this container, so encoder and decoder are validated
    against each other plus structural fuzz (the same footing as the
    LZW/JPEG codecs' fixture encoders)."""
    import random as _r

    from ocr_document_recognition_service_spark.operators import g4fax

    rng = _r.Random(77)

    def rt(px, w, h, label):
        enc = g4fax.g4_encode(bytes(px), w, h)
        assert g4fax.g4_decode(enc, w, h) == bytes(px), label
        return enc

    rt([0] * 200, 20, 10, "all white")
    rt([1] * 200, 20, 10, "all black")
    rt([(x // 3 + y) % 2 for y in range(10) for x in range(20)], 20, 10,
       "stripes")
    # every terminating code + every make-up boundary, both colours
    for run in list(range(64)) + [64, 127, 128, 191, 1664, 1728, 1729,
                                  1792, 2559, 2560, 2561, 2624, 5000]:
        rt([1] * run + [0] * 7, run + 7, 1, f"black run {run}")
        rt([0] * run + [1] * 7, run + 7, 1, f"white run {run}")
    # vertical/pass interplay: drifting shapes across lines
    for shift in range(-3, 4):
        w, h = 60, 12
        px = []
        for y in range(h):
            s = 10 + shift * y % 7
            row = [0] * w
            for x in range(max(0, s), min(w, s + 15)):
                row[x] = 1
            px += row
        rt(px, w, h, f"shift {shift}")
    # text-like random documents at several ink densities
    for trial in range(30):
        w, hh = rng.randint(1, 200), rng.randint(1, 40)
        dens = rng.choice([0.05, 0.3, 0.5, 0.9])
        px = [1 if rng.random() < dens else 0 for _ in range(w * hh)]
        rt(px, w, hh, f"rand {trial}")
    # review regression: a wide-ledger line whose run chains MORE
    # make-ups than the old fixed 16-code cap (40,000 px white run)
    w = 40_100
    px = [0] * 40_000 + [1] * 50 + [0] * 50
    rt(px, w, 1, "wide ledger run")


def test_g4_fax_rejects_malformed():
    """Truncations, bit flips, wrong geometry and dimension bombs all
    return None (never raise, never loop) — corpus no-raise contract."""
    import random as _r

    from ocr_document_recognition_service_spark.operators import g4fax

    rng = _r.Random(9)
    px = bytes(1 if rng.random() < 0.3 else 0 for _ in range(40 * 20))
    enc = g4fax.g4_encode(px, 40, 20)
    assert g4fax.g4_decode(enc, 40, 20) == px
    for i in range(0, len(enc), 3):
        r = g4fax.g4_decode(enc[:i], 40, 20)
        assert r is None or len(r) == 800
    rejected = 0
    for _ in range(200):
        ba = bytearray(enc)
        for _ in range(rng.randint(1, 4)):
            ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = g4fax.g4_decode(bytes(ba), 40, 20)
        assert r is None or len(r) == 800
        if r is None:
            rejected += 1
    assert rejected > 100  # flips overwhelmingly reject, silently
    # wrong declared geometry: same stream, different dims
    assert g4fax.g4_decode(enc, 41, 20) is None
    assert g4fax.g4_decode(enc, 40, 21) is None
    assert g4fax.g4_decode(b"", 10, 10) is None
    assert g4fax.g4_decode(enc, 0, 5) is None


def test_tiff_bilevel_and_g4_shapes():
    """Bilevel TIFF — packed-bit rows (Compression 1, photo 0/1) and
    CCITT G4 strips (Compression 4), single- and multi-strip, both
    byte orders — decodes through the same decode_image_pixels door
    with a pinned checksum."""
    from ocr_document_recognition_service_spark.operators import tiff

    import random as _r

    rng = _r.Random(13)
    w, h = 53, 22
    px = bytes(0 if rng.random() < 0.4 else 255 for _ in range(w * h))
    for comp in (1, 4):
        for rps in (None, 7):
            for be in (False, True):
                enc = tiff.encode_tiff(
                    px, w, h, mode="1", compression=comp,
                    rows_per_strip=rps, big_endian=be,
                )
                assert multimodal.decode_image_pixels(enc) == (
                    w, h, "L", px
                ), (comp, rps, be)
    # photometric 1 packed bits (BlackIsZero) round-trips too
    enc = tiff.encode_tiff(px, w, h, mode="1", compression=1,
                           photometric=1)
    assert multimodal.decode_image_pixels(enc) == (w, h, "L", px)
    # deterministic fixture pin: any codec change must be deliberate
    doc = bytes(
        0 if (x // 4 + y // 3) % 2 == 0 and 8 < x < 120 else 255
        for y in range(40)
        for x in range(128)
    )
    enc = tiff.encode_tiff(doc, 128, 40, mode="1", compression=4)
    got = multimodal.decode_image_pixels(enc)
    assert got[:3] == (128, 40, "L") and got[3] == doc
    assert hashlib.md5(enc).hexdigest() == (
        "2cf9676b95e8f361301e8e5de8b9367a"
    )


def test_g3_fax_codecs_roundtrip_and_reject():
    """r6 (r5 verdict #4): CCITT Group 3 / ITU-T T.4 — the G4
    sibling: MH RLE rows (TIFF Compression 2, byte-aligned, no EOL)
    and full T.4 (Compression 3) in 1-D and 2-D (EOL per line, tag
    bits, K-factor key lines) — built on the same run alphabet and
    2-D mode coder as T.6.  Same conformance caveat as G4: no
    external reader in this container, so encoder/decoder validate
    each other plus structural fuzz."""
    import random as _r

    from ocr_document_recognition_service_spark.operators import g4fax

    rng = _r.Random(5)
    codecs = [
        ("mh", g4fax.g3_1d_encode, g4fax.g3_1d_decode),
        (
            "t4-1d",
            lambda p, w, h: g4fax.g3_encode(p, w, h, two_d=False),
            lambda d, w, h: g4fax.g3_decode(d, w, h, two_d=False),
        ),
        (
            "t4-2d",
            lambda p, w, h: g4fax.g3_encode(p, w, h, two_d=True, k=3),
            lambda d, w, h: g4fax.g3_decode(d, w, h, two_d=True),
        ),
    ]
    cases = [
        ([0] * 200, 20, 10, "all white"),
        ([1] * 200, 20, 10, "all black"),
        ([1] + [0] * 39, 40, 1, "starts black (zero white run)"),
        (
            [(x // 3 + y) % 2 for y in range(10) for x in range(20)],
            20, 10, "stripes",
        ),
    ]
    # make-up boundaries incl. the shared extended table + chains
    for run in (63, 64, 1664, 1728, 1729, 1792, 2560, 2561, 5000):
        cases.append(([1] * run + [0] * 7, run + 7, 1, f"black {run}"))
        cases.append(([0] * run + [1] * 7, run + 7, 1, f"white {run}"))
    for trial in range(25):
        w, h = rng.randint(1, 150), rng.randint(1, 30)
        dens = rng.choice([0.05, 0.3, 0.6, 0.95])
        cases.append(
            ([1 if rng.random() < dens else 0 for _ in range(w * h)],
             w, h, f"rand {trial}"),
        )
    for px, w, h, label in cases:
        b = bytes(px)
        for name, enc, dec in codecs:
            assert dec(enc(b, w, h), w, h) == b, (name, label)

    # rejects: truncation and bit flips return None/valid, never raise
    px = bytes(1 if rng.random() < 0.3 else 0 for _ in range(40 * 20))
    for name, enc, dec in codecs:
        stream = enc(px, 40, 20)
        assert dec(stream, 40, 20) == px, name
        for i in range(0, len(stream), 3):
            r = dec(stream[:i], 40, 20)
            assert r is None or len(r) == 800, name
        rejected = 0
        for _ in range(120):
            ba = bytearray(stream)
            for _ in range(rng.randint(1, 4)):
                ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
            r = dec(bytes(ba), 40, 20)
            assert r is None or len(r) == 800, name
            if r is None:
                rejected += 1
        assert rejected > 40, name  # flips overwhelmingly reject
        assert dec(stream, 41, 20) is None, name
        assert dec(b"", 10, 10) is None, name
    # T.4 streams are NOT valid as the other dimensionality
    s2d = g4fax.g3_encode(px, 40, 20, two_d=True, k=3)
    assert g4fax.g3_decode(s2d, 40, 20, two_d=False) is None


def test_tiff_g3_shapes():
    """Compression 2 (MH RLE) and 3 (T.4, 1-D + 2-D via T4Options)
    decode through decode_image_pixels — single- and multi-strip, both
    photometrics (MinIsBlack fax takes the inverted mapping — advisor
    finding: such scans used to fall through to the stub), both byte
    orders; uncompressed-mode options reject."""
    import random as _r

    from ocr_document_recognition_service_spark.operators import tiff

    rng = _r.Random(31)
    w, h = 53, 22
    px = bytes(0 if rng.random() < 0.4 else 255 for _ in range(w * h))
    for comp, t4o in ((2, 0), (3, 0), (3, 1)):
        for rps in (None, 7):
            for photo in (0, 1):
                for be in (False, True):
                    enc = tiff.encode_tiff(
                        px, w, h, mode="1", compression=comp,
                        rows_per_strip=rps, photometric=photo,
                        big_endian=be, t4_options=t4o,
                    )
                    assert multimodal.decode_image_pixels(enc) == (
                        w, h, "L", px
                    ), (comp, t4o, rps, photo, be)
    # G4 + MinIsBlack (spec-legal, previously rejected)
    enc = tiff.encode_tiff(px, w, h, mode="1", compression=4,
                           photometric=1)
    assert multimodal.decode_image_pixels(enc) == (w, h, "L", px)
    # T4Options/T6Options uncompressed-mode bit rejects loudly-silently
    enc = tiff.encode_tiff(px, w, h, mode="1", compression=3,
                           t4_options=0b010)
    assert tiff.decode_tiff(enc) is None
    # deterministic fixture pin: any codec change must be deliberate
    doc = bytes(
        0 if (x // 4 + y // 3) % 2 == 0 and 8 < x < 120 else 255
        for y in range(40)
        for x in range(128)
    )
    enc = tiff.encode_tiff(doc, 128, 40, mode="1", compression=3,
                           t4_options=1)
    got = multimodal.decode_image_pixels(enc)
    assert got[:3] == (128, 40, "L") and got[3] == doc
    assert hashlib.md5(enc).hexdigest() == (
        "a83007d630ed7a19f7627d45b6ca0b9e"
    )


def test_decoders_reject_bombs_and_truncation():
    """Review fixes pinned: (a) a GIF claiming absurd dimensions or
    carrying a truncated LZW stream rejects instead of fabricating
    pixels or allocating gigabytes; (b) PNG inflate is bounded so a
    zlib bomb cannot expand past the declared raster; (c) sub-
    rectangle GIF frames reject so dims always agree with the header
    parse."""
    import zlib

    # dimension bomb: 60000x60000 header, empty LZW
    pay, _ = multimodal.synthetic_gif_payload(1, 14, 11, 16)
    bomb = bytearray(pay)
    bomb[6:8] = (60000).to_bytes(2, "little")
    bomb[8:10] = (60000).to_bytes(2, "little")
    # image descriptor dims live right after the 13-byte header + GCT
    d = 13 + 3 * 16 + 5
    bomb[d:d + 2] = (60000).to_bytes(2, "little")
    bomb[d + 2:d + 4] = (60000).to_bytes(2, "little")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_pixels(bytes(bomb))
    # truncated LZW: cut the data sub-blocks in half -> reject
    cut = pay[: len(pay) // 2] + b"\x00\x3b"
    assert multimodal._decode_gif(cut) is None
    # sub-rectangle frame: 6x4 image on a 10x8 screen -> reject
    sub, _ = multimodal.synthetic_gif_payload(2, 6, 4, 4)
    sr = bytearray(sub)
    sr[6:8] = (10).to_bytes(2, "little")
    sr[8:10] = (8).to_bytes(2, "little")
    assert multimodal._decode_gif(bytes(sr)) is None
    # PNG zlib bomb: deflate of 100 MB of zeros behind a small header
    w, h = 11, 10
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])
    bombpng = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(b"\x00" * (100 << 20)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert multimodal._decode_png(bombpng) is None  # wrong length, bounded

    # JPEG dimension bomb: a real encoded fixture with SOF dims patched
    # to 65500x65500 must return None from the header guard, not build
    # ~4.3B coefficient entries / multi-GB planes first (ADVICE r4)
    from ocr_document_recognition_service_spark.operators import jpeg

    for maker in (jpeg.encode_gray_jpeg, jpeg.encode_progressive_jpeg):
        px = bytes(range(64)) * 4  # 16x16 grey
        pay = maker(px, 16, 16)
        sof = pay.find(b"\xff\xc0")
        if sof < 0:
            sof = pay.find(b"\xff\xc2")
        assert sof > 0
        jb = bytearray(pay)
        jb[sof + 5:sof + 7] = (65500).to_bytes(2, "big")  # h
        jb[sof + 7:sof + 9] = (65500).to_bytes(2, "big")  # w
        t0 = time.time()
        assert jpeg.decode_jpeg(bytes(jb)) is None
        assert time.time() - t0 < 5.0  # guard fires pre-allocation

    # samp-factor padding bomb: legal w*h but 15x15 sampling on a
    # 3-component frame inflates the padded plane ~225x -> reject
    body = (
        bytes([8]) + (2048).to_bytes(2, "big") + (32000).to_bytes(2, "big")
        + bytes([3, 1, 0xFF, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    pad_bomb = (
        b"\xff\xd8\xff\xc0" + (len(body) + 2).to_bytes(2, "big") + body
    )
    assert jpeg.decode_jpeg(pad_bomb) is None


def test_lossless_jpeg_roundtrips_and_rejects():
    """r6: lossless (SOF3) JPEG — T.81 Annex H predictive coding, the
    last stdlib-feasible JPEG process (DICOM/raw-photo archives).  All
    7 predictors round-trip byte-exact in grey and RGB through the
    public decode_jpeg dispatch; restart intervals reset prediction;
    16-bit samples reduce to the high byte (PNG-16 convention); point
    transform shifts back up; truncation/bit-flip fuzz never raises.
    Same conformance caveat as G3/G4: no external lossless reader in
    this container — encoder/decoder validate each other + structure."""
    import random as _r

    from ocr_document_recognition_service_spark.operators import jpeg as J

    rng = _r.Random(23)
    grey = bytes((x * 7 + y * 13) % 256 for y in range(20) for x in range(31))
    rgb = bytes(rng.randrange(256) for _ in range(17 * 9 * 3))
    for pred in range(1, 8):
        enc = J.encode_lossless_jpeg(grey, 31, 20, predictor=pred)
        assert J.decode_jpeg(enc) == (31, 20, "L", grey), pred
        enc = J.encode_lossless_jpeg(rgb, 17, 9, mode="RGB", predictor=pred)
        assert J.decode_jpeg(enc) == (17, 9, "RGB", rgb), pred
    # flat and extreme-value planes (category edge cases incl. SSSS=8)
    for px in (b"\x00" * 200, b"\xff" * 200, b"\x00\xff" * 100):
        assert J.decode_jpeg(J.encode_lossless_jpeg(px, 20, 10, predictor=4))[3] == px
    # restart markers: prediction resets, byte-aligned RSTn cycling
    noisy = bytes(rng.randrange(256) for _ in range(40 * 13))
    for ri in (1, 5, 37):
        enc = J.encode_lossless_jpeg(noisy, 40, 13, predictor=4,
                                     restart_interval=ri)
        assert J.decode_jpeg(enc) == (40, 13, "L", noisy), ri
    # 16-bit precision reduces to high byte; SSSS up to 16 exercised
    wide = [rng.randrange(65536) for _ in range(23 * 7)]
    got = J.decode_jpeg(J.encode_lossless_jpeg(wide, 23, 7, precision=16,
                                               predictor=1))
    assert got[:3] == (23, 7, "L") and got[3] == bytes(s >> 8 for s in wide)
    # point transform: decoded samples are shifted back up
    got = J.decode_jpeg(J.encode_lossless_jpeg(grey, 31, 20, predictor=2,
                                               point_transform=3))
    assert got[3] == bytes((v >> 3) << 3 for v in grey)
    # degenerate geometries
    assert J.decode_jpeg(J.encode_lossless_jpeg(b"\x80", 1, 1))[3] == b"\x80"
    # no-raise contract: truncations and flips return None or a frame
    enc = J.encode_lossless_jpeg(rgb, 17, 9, mode="RGB", predictor=4,
                                 restart_interval=7)
    for i in range(0, len(enc), 3):
        r = J.decode_jpeg(enc[:i])
        assert r is None or len(r) == 4
    rejected = 0
    for _ in range(200):
        ba = bytearray(enc)
        for _ in range(rng.randint(1, 4)):
            ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(ba))
        assert r is None or len(r) == 4
        if r is None:
            rejected += 1
    assert rejected > 80
    # deterministic fixture pin: any codec change must be deliberate
    doc = bytes((x * 3 + y * 5) % 251 for y in range(24) for x in range(32))
    enc = J.encode_lossless_jpeg(doc, 32, 24, predictor=7)
    assert multimodal.decode_image_pixels(enc) == (32, 24, "L", doc)
    assert hashlib.md5(enc).hexdigest() == "85d97741ac8af4a3f8b4651a99edd4e2"


def test_arith_jpeg_equals_huffman_and_survives_fuzz():
    """r6: sequential arithmetic-coded (SOF9) JPEG — the QM-coder of
    T.81 Annex D with the Annex F DC/AC statistical models.  The
    quantization path is shared with the Huffman codec, so an
    arithmetic encode of an image must decode to pixels BYTE-EQUAL to
    the baseline decode of the same image — a cross-codec oracle that
    validates the entire entropy layer without an external producer
    (same conformance caveat as G3/G4/lossless).  Restart markers
    reset coder + statistics + predictors; non-default DAC
    conditioning (L, U, Kx) round-trips; fuzz never raises."""
    import random as _r

    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg as J
    from ocr_document_recognition_service_spark.operators import jpeg_arith as A

    # coder-level property: arbitrary bit sequence over arbitrary
    # adaptive contexts survives encode->flush->decode exactly
    rng = _r.Random(17)
    for trial in range(20):
        nctx = rng.randint(1, 8)
        bits = [(rng.randrange(nctx), rng.randrange(2))
                for _ in range(rng.randint(1, 400))]
        enc, st_e = A.ArithEncoder(), bytearray(nctx)
        for ctx, bit in bits:
            enc.encode(st_e, ctx, bit)
        dec, st_d = A.ArithDecoder(enc.flush()), bytearray(nctx)
        got = [dec.decode(st_d, ctx) for ctx, _ in bits]
        assert got == [b for _, b in bits], trial

    npr = np.random.default_rng(5)

    def pix(n):
        return bytes(npr.integers(0, 256, n, dtype=np.uint8))

    # cross-codec pixel equality, grey + RGB 4:4:4 + RGB 4:2:0,
    # non-multiple-of-8 (and -16) geometries
    for w, h in ((37, 23), (8, 8), (1, 1)):
        px = pix(w * h)
        assert J.decode_jpeg(A.encode_arith_jpeg(px, w, h, "L")) == \
            J.decode_jpeg(J.encode_gray_jpeg(px, w, h)), (w, h)
    for w, h, sub in ((19, 31, False), (50, 34, True), (16, 16, True)):
        px = pix(w * h * 3)
        assert J.decode_jpeg(A.encode_arith_jpeg(px, w, h, "RGB",
                                                 subsample=sub)) == \
            J.decode_jpeg(J.encode_rgb_jpeg(px, w, h, subsample=sub)), (w, h)
    # restart intervals: every-MCU, mid, and longer-than-scan
    px = pix(40 * 33)
    plain = J.decode_jpeg(J.encode_gray_jpeg(px, 40, 33))
    for ri in (1, 3, 1000):
        assert J.decode_jpeg(
            A.encode_arith_jpeg(px, 40, 33, "L", restart_interval=ri)
        ) == plain, ri
    # non-default DAC conditioning changes the bytes, not the pixels
    base = A.encode_arith_jpeg(px, 40, 33, "L")
    for cond in ((0, 0, 1), (2, 4, 16), (15, 15, 63)):
        alt = A.encode_arith_jpeg(px, 40, 33, "L", conditioning=cond)
        assert alt != base and J.decode_jpeg(alt) == plain, cond
    # the arithmetic path rides decode_image_pixels (public surface)
    enc = A.encode_arith_jpeg(pix(16 * 16), 16, 16, "L")
    out = multimodal.decode_image_pixels(enc)
    assert out[:3] == (16, 16, "L") and len(out[3]) == 256
    # standalone markers (TEM) between header segments are skipped
    i = enc.find(b"\xff\xda")
    assert J.decode_jpeg(enc[:i] + b"\xff\x01" + enc[i:]) == \
        J.decode_jpeg(enc)
    # no-raise contract: truncation + bit flips return None or a frame
    enc = A.encode_arith_jpeg(pix(24 * 17 * 3), 24, 17, "RGB",
                              subsample=True, restart_interval=2)
    for i in range(0, len(enc), 7):
        r = J.decode_jpeg(enc[:i])
        assert r is None or len(r) == 4
    rejected = 0
    for _ in range(200):
        ba = bytearray(enc)
        for _ in range(rng.randint(1, 4)):
            ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(ba))
        assert r is None or len(r) == 4
        if r is None:
            rejected += 1
    assert rejected > 30  # header flips reject; scan flips decode noise
    # deterministic fixture pin: any codec change must be deliberate
    doc = bytes((x * 11 + y * 3) % 256 for y in range(24) for x in range(32))
    enc = A.encode_arith_jpeg(doc, 32, 24, "L")
    assert J.decode_jpeg(enc) == J.decode_jpeg(J.encode_gray_jpeg(doc, 32, 24))
    assert hashlib.md5(enc).hexdigest() == \
        "d782f9cc538cf39a4466b5222caed627"


def test_arith_progressive_jpeg_equals_baseline_and_survives_fuzz():
    """r6: progressive arithmetic-coded (SOF10) JPEG — the SOF2 scan
    structure (spectral selection, successive approximation, DC/AC
    first + refinement scans) over the Annex D QM-coder with the
    Annex G.2 models (fixed-bin DC correction bits, banded AC first,
    EOB/significance/correction AC refinement).  Quantization is
    shared with every other JPEG path, so the multi-scan decode must
    be byte-equal to the BASELINE decode of the same source — one
    oracle certifies the whole scan pipeline (same conformance caveat
    as SOF9: no external producer in the sandbox)."""
    import random as _r

    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg as J
    from ocr_document_recognition_service_spark.operators import jpeg_arith as A

    npr = np.random.default_rng(23)

    def pix(n):
        return bytes(npr.integers(0, 256, n, dtype=np.uint8))

    # cross-codec equality across geometries incl. non-multiple-of-8
    for w, h in ((37, 23), (8, 8), (1, 1), (16, 16)):
        px = pix(w * h)
        assert J.decode_jpeg(A.encode_arith_progressive_jpeg(px, w, h)) \
            == J.decode_jpeg(J.encode_gray_jpeg(px, w, h)), (w, h)
    for w, h, sub in ((19, 31, False), (50, 34, True), (16, 16, True)):
        px = pix(w * h * 3)
        assert J.decode_jpeg(
            A.encode_arith_progressive_jpeg(px, w, h, "RGB", subsample=sub)
        ) == J.decode_jpeg(J.encode_rgb_jpeg(px, w, h, subsample=sub)), (w, h)
    # DC-scan restart markers (coder + statistics + predictors reset)
    px = pix(40 * 33)
    plain = J.decode_jpeg(J.encode_gray_jpeg(px, 40, 33))
    for ri in (1, 3, 1000):
        assert J.decode_jpeg(
            A.encode_arith_progressive_jpeg(px, 40, 33, dc_restart=ri)
        ) == plain, ri
    # non-default DAC conditioning changes the bytes, not the pixels
    base = A.encode_arith_progressive_jpeg(px, 40, 33)
    for cond in ((0, 0, 1), (2, 4, 16), (15, 15, 63)):
        alt = A.encode_arith_progressive_jpeg(px, 40, 33,
                                              conditioning=cond)
        assert alt != base and J.decode_jpeg(alt) == plain, cond
    # rides the public decode surface
    enc = A.encode_arith_progressive_jpeg(pix(16 * 16), 16, 16, "L")
    out = multimodal.decode_image_pixels(enc)
    assert out[:3] == (16, 16, "L") and len(out[3]) == 256
    # no-raise contract: truncations and bit flips return None/frame
    rng = _r.Random(29)
    enc = A.encode_arith_progressive_jpeg(
        pix(24 * 17 * 3), 24, 17, "RGB", subsample=True, dc_restart=2
    )
    for i in range(0, len(enc), 7):
        r = J.decode_jpeg(enc[:i])
        assert r is None or len(r) == 4
    rejected = 0
    for _ in range(200):
        ba = bytearray(enc)
        for _ in range(rng.randint(1, 4)):
            ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(ba))
        assert r is None or len(r) == 4
        if r is None:
            rejected += 1
    assert rejected > 30
    # deterministic fixture pin: any codec change must be deliberate
    doc = bytes((x * 11 + y * 3) % 256 for y in range(24) for x in range(32))
    enc = A.encode_arith_progressive_jpeg(doc, 32, 24, "L")
    assert J.decode_jpeg(enc) == J.decode_jpeg(J.encode_gray_jpeg(doc, 32, 24))
    assert hashlib.md5(enc).hexdigest() == \
        "7e207a8ac3e1910561170905a818c621"


def test_segment_dedup_hand_cases_and_plan(spark):
    """r6: sub-document exact dedup (the C4/RefinedWeb paragraph
    scrub).  Hand-computed keep decisions: first occurrence in
    (id, seg_idx) total order wins, later repeats vanish, unique
    segments survive, short segments are exempt, a fully-duplicate
    document comes back empty with n_kept=0.  Plan audit: the wide
    text column feeds only the narrow segment explode — the keep
    decision and reassembly shuffle segments and ids, never documents.
    """
    from ocr_document_recognition_service_spark.operators.dedup import (
        segment_dedup,
    )

    # words mode: 2-word windows
    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # both segments first occurrences
            (2, "a b x y"),        # "a b" dropped, "x y" kept
            (3, "a b c d"),        # fully duplicate -> empty
            (4, "c d z"),          # "c d" dropped, tail "z" kept
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["text_dedup"])
        for r in segment_dedup(df, words_per_segment=2).collect()
    }
    assert got == {
        1: (2, 2, "a b c d"),
        2: (2, 1, "x y"),
        3: (2, 0, ""),
        4: (2, 1, "z"),
    }

    # separator (paragraph) mode + min_chars exemption
    df2 = spark.createDataFrame(
        [
            (1, "intro\n\nbody text\n\nx"),
            (2, "body text\n\nx\n\noutro"),
        ],
        "doc_id long, text string",
    )
    got2 = {
        r["doc_id"]: (r["n_kept"], r["text_dedup"])
        for r in segment_dedup(
            df2, separator="\n\n", min_chars=2
        ).collect()
    }
    # "x" (1 char) is exempt everywhere; "body text" deduped to doc 1
    assert got2 == {
        1: (3, "intro\n\nbody text\n\nx"),
        2: (2, "x\n\noutro"),
    }

    # plan: no exchange carries the original text column
    plan = (
        segment_dedup(df, words_per_segment=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_jpeg_12bit_and_cmyk_decode():
    """r6: extended sequential (SOF1) 12-bit frames — 16-bit DQT
    entries, extended Huffman categories (DC to 15, AC size to 14),
    output reduced to the high 8 bits — and 4-component Adobe
    CMYK/YCCK (APP14 transform flag, inverted-sample convention,
    converted to RGB).  Same conformance posture as the other codecs:
    encoder/decoder validate each other, smooth-image reconstructions
    sit within DCT quantization error of the direct conversion, fuzz
    never raises."""
    import random as _r

    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg as J

    # 12-bit grey: smooth field decodes to within 1 of the true high
    # bytes (quantization error only)
    w, h = 25, 17
    smooth = [min(4095, x * 60 + y * 90) for y in range(h) for x in range(w)]
    enc = J.encode_gray12_jpeg(smooth, w, h)
    out = J.decode_jpeg(enc)
    assert out is not None and out[:3] == (25, 17, "L")
    want = np.array([s >> 4 for s in smooth], dtype=int).reshape(h, w)
    got = np.frombuffer(out[3], dtype=np.uint8).reshape(h, w).astype(int)
    assert np.abs(want - got).max() <= 1
    # extreme values exercise the big DC categories
    hi = [0, 4095] * 50
    o2 = J.decode_jpeg(J.encode_gray12_jpeg(hi, 10, 10))
    assert o2 is not None and o2[:3] == (10, 10, "L")
    with pytest.raises(ValueError):
        J.encode_gray12_jpeg([4096], 1, 1)

    # CMYK and YCCK: reconstruction near the direct ink->RGB identity
    w, h = 19, 13
    cmyk = bytes(
        min(255, x * 9 + y * 5 + c * 13)
        for y in range(h) for x in range(w) for c in range(4)
    )
    a = np.frombuffer(cmyk, dtype=np.uint8).reshape(h, w, 4).astype(float)
    ref = np.clip(
        np.rint((255 - a[..., :3]) * (255 - a[..., 3:4]) / 255.0), 0, 255
    )
    for ycck, tol in ((False, 6), (True, 8)):
        enc = J.encode_cmyk_jpeg(cmyk, w, h, ycck=ycck)
        out = J.decode_jpeg(enc)
        assert out is not None and out[:3] == (19, 13, "RGB"), ycck
        got = np.frombuffer(out[3], dtype=np.uint8).reshape(h, w, 3)
        assert np.abs(ref - got.astype(float)).max() <= tol, ycck
    # both ride the public pixel surface
    assert multimodal.decode_image_pixels(enc)[:3] == (19, 13, "RGB")
    assert multimodal.decode_image_pixels(
        J.encode_gray12_jpeg(smooth, 25, 17)
    )[:3] == (25, 17, "L")

    # no-raise contract: truncation + bit flips
    rng = _r.Random(11)
    for enc in (
        J.encode_gray12_jpeg(smooth, 25, 17),
        J.encode_cmyk_jpeg(cmyk, 19, 13, ycck=True),
    ):
        for i in range(0, len(enc), 9):
            r = J.decode_jpeg(enc[:i])
            assert r is None or len(r) == 4
        for _ in range(150):
            ba = bytearray(enc)
            for _ in range(rng.randint(1, 4)):
                ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
            r = J.decode_jpeg(bytes(ba))
            assert r is None or len(r) == 4
    # deterministic fixture pins: codec changes must be deliberate
    assert hashlib.md5(J.encode_gray12_jpeg(smooth, 25, 17)).hexdigest() == \
        "af10d0661f8be32eed27cda9bc63bfad"
    assert hashlib.md5(
        J.encode_cmyk_jpeg(cmyk, 19, 13, ycck=True)
    ).hexdigest() == "9e1eb705964b630b0ac5fc9852db63ab"


def test_jpeg_hierarchical_pyramid_decode():
    """r6: hierarchical (T.81 Annex J) JPEG — DHP geometry, SOF0 base
    frame, EXP-expanded SOF5 differential refinements, SOF7
    differential-lossless correction.  With that final correction the
    decoded pyramid is BYTE-EQUAL to the source (the strongest oracle
    a self-generated fixture can carry — residuals close the loop
    exactly); a single-frame hierarchy must decode byte-equal to the
    plain baseline encoding of the same pixels (envelope oracle).
    Closes the last stdlib-feasible JPEG stub: every T.81 coding mode
    now decodes for real.  Same conformance caveat as the other
    codecs: no external hierarchical producer in this container."""
    import random as _r

    import numpy as np

    from ocr_document_recognition_service_spark.operators import jpeg as J
    from ocr_document_recognition_service_spark.operators import (
        jpeg_hier as JH,
    )

    w, h = 37, 29  # odd dims exercise the 2W-1 EXP crop at every level
    px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))

    # exactness oracle: lossless-corrected pyramids, several depths,
    # through the PUBLIC dispatch (DHP routes from decode_jpeg)
    for levels in (1, 2, 3, 4):
        enc = JH.encode_hier_gray_jpeg(px, w, h, levels=levels)
        assert J.decode_jpeg(enc) == (w, h, "L", px), levels
    # even dims and degenerate geometry
    sq = bytes((x * 11 + y * 3) % 256 for y in range(16) for x in range(24))
    assert J.decode_jpeg(
        JH.encode_hier_gray_jpeg(sq, 24, 16, levels=3)
    ) == (24, 16, "L", sq)
    assert J.decode_jpeg(
        JH.encode_hier_gray_jpeg(b"\x9c", 1, 1, levels=2)
    ) == (1, 1, "L", b"\x9c")

    # envelope oracle: one non-differential frame under DHP ==
    # the plain baseline codec, byte-equal
    one = JH.encode_hier_gray_jpeg(px, w, h, levels=1, lossless_final=False)
    assert J.decode_jpeg(one)[3] == J.decode_jpeg(
        J.encode_gray_jpeg(px, w, h)
    )[3]

    # lossy pyramid (no correction frame): bounded quantization error
    lossy = JH.encode_hier_gray_jpeg(px, w, h, levels=3,
                                     lossless_final=False)
    out = J.decode_jpeg(lossy)
    assert out is not None and out[:3] == (w, h, "L")
    err = np.abs(
        np.frombuffer(out[3], np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert err.max() <= 96 and err.mean() < 16  # Annex K tables, sharp ramp

    # restart intervals thread through every frame kind (SOF0/SOF5/SOF7)
    for ri in (1, 3, 17):
        enc = JH.encode_hier_gray_jpeg(px, w, h, levels=3,
                                       restart_interval=ri)
        assert J.decode_jpeg(enc) == (w, h, "L", px), ri

    # structural rejections (all via the no-raise contract):
    full = JH.encode_hier_gray_jpeg(px, w, h, levels=3)
    # (a) a differential frame with no DHP in the stream is malformed
    sof5 = full.index(b"\xff\xc5")
    assert J.decode_jpeg(b"\xff\xd8" + full[sof5:]) is None
    # (b) a pyramid that never reaches the DHP geometry: cut after the
    # first frame's entropy data and close with EOI
    cut = full.index(b"\xff\xc5")
    assert J.decode_jpeg(full[:cut] + b"\xff\xd9") is None
    # (c) colour hierarchies are out of scope: patch DHP's Nf to 3
    dhp = full.index(b"\xff\xde")
    bad = bytearray(full)
    bad[dhp + 9] = 3
    assert J.decode_jpeg(bytes(bad)) is None

    # no-raise fuzz: truncations + bit flips, many must reject cleanly
    rng = _r.Random(7)
    rejected = 0
    for i in range(0, len(full), 3):
        r = J.decode_jpeg(full[:i])
        assert r is None or len(r) == 4
    for _ in range(300):
        ba = bytearray(full)
        for _ in range(rng.randint(1, 4)):
            ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(ba))
        assert r is None or len(r) == 4
        if r is None:
            rejected += 1
    assert rejected > 100

    # public pixel surface + deterministic fixture pin
    assert multimodal.decode_image_pixels(full) == (w, h, "L", px)
    assert hashlib.md5(full).hexdigest() == "2d8559955bf6b48e407694481c831374"

    # ---- COLOUR (4:4:4 YCbCr) hierarchies (r6 late) ----
    from ocr_document_recognition_service_spark.operators.jpeg import (
        _finish_planes, _rgb_to_ycbcr,
    )

    rgb = bytes(
        (x * 5 + y * 11 + c * 37) % 256
        for y in range(h) for x in range(w) for c in range(3)
    )
    # exactness: the correction frame pins the YCbCr planes to the
    # encoder's INTEGER source, so RGB output equals the JFIF inverse
    # of those planes — computed independently here
    yy, cb, cr = _rgb_to_ycbcr(rgb, w, h)
    ints = [
        np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in (yy, cb, cr)
    ]
    want = _finish_planes(
        [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)], ints, w, h, 1, 1
    )[3]
    for levels in (1, 2, 3):
        enc = JH.encode_hier_rgb_jpeg(rgb, w, h, levels=levels)
        assert J.decode_jpeg(enc) == (w, h, "RGB", want), levels
    # ...and stays within rounding distance of the true source
    errc = np.abs(
        np.frombuffer(want, np.uint8).astype(int)
        - np.frombuffer(rgb, np.uint8).astype(int)
    ).max()
    assert errc <= 2
    # envelope oracle: a single-frame colour hierarchy quantizes the
    # same float planes as the plain 4:4:4 codec — byte-equal decode
    one = JH.encode_hier_rgb_jpeg(rgb, w, h, levels=1,
                                  lossless_final=False)
    assert J.decode_jpeg(one)[3] == J.decode_jpeg(
        J.encode_rgb_jpeg(rgb, w, h, subsample=False)
    )[3]
    # restarts thread through the interleaved-MCU colour scans
    enc = JH.encode_hier_rgb_jpeg(rgb, w, h, levels=2,
                                  restart_interval=3)
    assert J.decode_jpeg(enc)[3] == want
    # colour fuzz: truncation + flips, never raise
    cf = JH.encode_hier_rgb_jpeg(rgb, w, h, levels=3, restart_interval=5)
    for i in range(0, len(cf), 5):
        r = J.decode_jpeg(cf[:i])
        assert r is None or len(r) == 4
    for _ in range(200):
        ba = bytearray(cf)
        ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        r = J.decode_jpeg(bytes(ba))
        assert r is None or len(r) == 4
    # colour fixture pin
    assert hashlib.md5(
        JH.encode_hier_rgb_jpeg(rgb, w, h, levels=3)
    ).hexdigest() == "057c0c7b1bbf3dc77171465717093edc"
