"""WARC source: write → distributed read → extract, byte-identical."""

import pytest

from ocr_document_recognition_service_spark import extract_one, gen_pages
from ocr_document_recognition_service_spark.charsets import LANGS
from ocr_document_recognition_service_spark.pipeline import extract_pages
from ocr_document_recognition_service_spark.sources import warc

pytestmark = pytest.mark.spark


def _reference_rows(*paths):
    """Driver-side reference for ``read_warc_stream``: the whole-blob
    ``parse_warc_bytes`` of each file, with lang taken from a two-letter
    host prefix that names a known lang, else null."""
    out = []
    for p in paths:
        for url, ts, payload in warc.parse_warc_bytes(p.read_bytes()):
            host = url.split("//", 1)[1]
            lang = host[:2] if host[2:3] == "." and host[:2] in LANGS else None
            out.append((url, payload, ts, lang))
    return sorted(out)


def _rows(pages):
    return sorted(
        (r["url"], bytes(r["html"]), r["warc_ts"], r["lang"])
        for r in pages.collect()
    )


def test_warc_roundtrip_and_extraction(spark, tmp_path, corpus_rows):
    rows = corpus_rows[:120]
    mid = len(rows) // 2
    paths = [tmp_path / "part0.warc", tmp_path / "part1.warc"]
    for p, chunk in zip(paths, (rows[:mid], rows[mid:])):
        warc.write_warc(
            str(p), [(r["url"], r["warc_ts"], r["html"]) for r in chunk]
        )

    pages = warc.read_warc_stream(spark, str(tmp_path / "*.warc"))
    got = _rows(pages)
    assert got == _reference_rows(*paths) and len(got) == 120
    by_url = {g[0]: g for g in got}
    sample = rows[3]
    assert by_url[sample["url"]][1] == sample["html"]
    assert by_url[sample["url"]][2] == sample["warc_ts"].replace(
        microsecond=0
    )
    # lang inferred from host prefix == generator's actual lang
    for r in rows:
        assert by_url[r["url"]][3] == r["url"].split("//")[1][:2]

    out = {r["url"]: r["text"] for r in extract_pages(pages).collect()}
    # byte-identity vs the oracle, with lang inferred from the host
    for r in rows:
        lang = r["url"].split("//")[1][:2]
        assert out[r["url"]] == extract_one.extract_document(
            r["html"], lang
        ).text, r["url"]


def test_gzipped_warc_supported(spark, tmp_path, corpus_rows):
    """A whole-file .warc.gz (ONE gzip member around every record)."""
    import gzip

    rows = corpus_rows[:30]
    raw_path = tmp_path / "plain.warc"
    warc.write_warc(
        str(raw_path), [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    )
    gz_path = tmp_path / "cc.warc.gz"
    gz_path.write_bytes(gzip.compress(raw_path.read_bytes()))
    raw_path.unlink()  # only the .gz remains, as Common Crawl ships it

    got = _rows(warc.read_warc_stream(spark, str(tmp_path / "*.warc.gz")))
    assert got == _reference_rows(gz_path) and len(got) == 30
    html = {g[0]: g[1] for g in got}
    for r in rows:
        assert html[r["url"]] == r["html"]


def test_stream_parse_matches_blob_parse(tmp_path, corpus_rows):
    """iter_warc_records == parse_warc_bytes on every layout the wild
    ships: plain .warc, single-member .warc.gz, per-record-member
    .warc.gz (Common Crawl)."""
    rows = corpus_rows[:40]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    plain = tmp_path / "a.warc"
    warc.write_warc(str(plain), recs)
    one_member = tmp_path / "b.warc.gz"
    warc.write_warc_gz(str(one_member), recs, per_record_members=False)
    per_record = tmp_path / "c.warc.gz"
    warc.write_warc_gz(str(per_record), recs)

    want = list(warc.parse_warc_bytes(plain.read_bytes()))
    assert len(want) == 40
    for p in (plain, one_member, per_record):
        got = list(warc.iter_warc_records(str(p)))
        assert got == want, p.name


def test_stream_parse_bounded_memory(tmp_path):
    """The scale contract: a 400 MB (decompressed) .warc.gz and a
    single 256 MB record both stream through O(cap) memory.  tracemalloc
    gives a baseline-free peak over exactly the parse (gzip buffers,
    bytearrays and yielded payloads are all Python allocations)."""
    import gzip
    import tracemalloc
    from datetime import datetime

    # (a) many-record file: 4000 x 100 KB = 400 MB decompressed
    ts = datetime(2024, 1, 1)
    payload = (b"<html><body>" + b"repetitive filler " * 5000)[:100_000]
    big = tmp_path / "big.warc.gz"
    with open(big, "wb") as f:
        for i in range(4000):
            rec = warc._record_bytes(
                f"https://en.site{i % 7}.org/p{i}", ts, payload
            )
            f.write(gzip.compress(rec, compresslevel=1, mtime=0))

    tracemalloc.start()
    n = 0
    last = None
    for url, _, pay in warc.iter_warc_records(str(big)):
        n += 1
        last = (url, pay)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert n == 4000 and last[1] == payload
    assert peak < 64 << 20, f"peak {peak / 1e6:.0f} MB — not streaming"

    # (b) one oversized record, synthesized by a chunk generator so the
    # test itself never holds it: 256 MB body against a 1 MB cap must
    # keep only cap + envelope-allowance bytes and still surface as a
    # too-long payload (PayloadTooLarge downstream), with the records
    # around it parsed intact
    cap = 1 << 20
    chunk = bytes(1024) * 1024  # 1 MiB

    def chunks():
        yield warc._record_bytes("https://en.ok.org/before", ts, b"fine")
        env = b"HTTP/1.1 200 OK\r\nA: b\r\n\r\nstart!"
        head = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://en.big.org/huge\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Length: "
            + str(len(env) + 256 * len(chunk)).encode()
            + b"\r\n\r\n"
        )
        yield head + env
        for _ in range(256):
            yield chunk
        yield b"\r\n\r\n"
        yield warc._record_bytes("https://en.ok.org/after", ts, b"also fine")

    tracemalloc.start()
    got = list(warc.iter_warc_chunks(chunks(), max_payload_bytes=cap))
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert [g[0] for g in got] == [
        "https://en.ok.org/before",
        "https://en.big.org/huge",
        "https://en.ok.org/after",
    ]
    assert got[0][2] == b"fine" and got[2][2] == b"also fine"
    assert cap < len(got[1][2]) <= cap + (64 << 10)  # kept > kernel cap
    assert peak < 16 << 20, f"peak {peak / 1e6:.0f} MB for capped record"


def test_stream_parse_resyncs_past_hostile_header(tmp_path):
    """A header block with no terminator must not balloon the buffer or
    swallow the rest of the file: the parser resyncs and still yields
    the following well-formed record."""
    from datetime import datetime

    good = warc._record_bytes(
        "https://en.good.org/x", datetime(2024, 1, 1), b"payload"
    )
    hostile = b"WARC/1.0\r\nWARC-Type: response\r\nX: " + b"y" * (2 << 20)
    p = tmp_path / "hostile.warc"
    p.write_bytes(hostile + b"\r\n\r\n-not-a-length-\r\n" + good)
    got = list(warc.iter_warc_records(str(p)))
    assert [g[0] for g in got] == ["https://en.good.org/x"]
    assert got[0][2] == b"payload"


def test_read_warc_stream_matches_blob_reader(spark, tmp_path, corpus_rows):
    """The distributed streaming reader returns the rows of the
    whole-blob ``parse_warc_bytes`` over a mixed plain/.gz directory,
    and feeds the same byte-identical extraction."""
    rows = corpus_rows[:60]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    plain, per_record = tmp_path / "p0.warc", tmp_path / "p1.warc.gz"
    warc.write_warc(str(plain), recs[:30])
    warc.write_warc_gz(str(per_record), recs[30:])

    stream = warc.read_warc_stream(spark, str(tmp_path / "p*.warc*"))
    assert _rows(stream) == _reference_rows(plain, per_record)

    out = {r["url"]: r["text"] for r in extract_pages(stream).collect()}
    for r in rows[:10]:
        lang = r["url"].split("//")[1][:2]
        assert out[r["url"]] == extract_one.extract_document(
            r["html"], lang
        ).text


def test_parse_negative_content_length_terminates():
    """Review regression: a crafted 'Content-Length: -1000' rewound the
    blob parser's cursor before the record it just read — infinite
    loop.  Both paths must terminate and agree."""
    from datetime import datetime

    good = warc._record_bytes(
        "https://en.ok.org/x", datetime(2024, 1, 1), b"payload"
    )
    evil = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://en.evil.org/y\r\n"
        b"Content-Length: -1000\r\n\r\n" + good
    )
    blob_recs = list(warc.parse_warc_bytes(evil))  # must not hang
    stream_recs = list(warc.iter_warc_chunks([evil]))
    assert [r[0] for r in blob_recs] == [
        "https://en.evil.org/y", "https://en.ok.org/x"
    ]
    assert blob_recs[-1][2] == b"payload"
    assert stream_recs == blob_recs


def test_stream_large_envelope_parity_and_truncation_flagging():
    """Review regressions: (a) a well-formed record whose HTTP headers
    exceed 64 KiB must still strip the envelope identically to the
    blob path; (b) a TRUNCATED record whose oversized envelope pulls
    the kept prefix back under the kernel cap must leave with a
    payload > cap (PayloadTooLarge downstream), never as silently
    truncated 'valid' content."""

    def record(env_fill: int, payload: bytes, declared: int | None = None):
        env = (
            b"HTTP/1.1 200 OK\r\nX-Fill: " + b"a" * env_fill + b"\r\n\r\n"
        )
        body = env + payload
        n = declared if declared is not None else len(body)
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://en.big.org/env\r\n"
            b"Content-Length: " + str(n).encode() + b"\r\n\r\n"
            + body
        ), len(env)

    # (a) 70 KiB envelope, small real payload — byte parity
    raw, _ = record(70 << 10, b"<html>real content</html>")
    want = list(warc.parse_warc_bytes(raw))
    got = list(warc.iter_warc_chunks([raw]))
    assert want[0][2] == b"<html>real content</html>"
    assert got == want

    # (b) cap-truncated record (full body present in the stream, body
    # > keep_cap) whose 80 KiB envelope exceeds the 64 KiB allowance:
    # kept-minus-envelope lands UNDER the cap — the parser must pad the
    # emitted payload past the cap so it cannot pass as valid content
    cap = 1 << 20
    raw, env_len = record(80 << 10, b"x" * (4 << 20))
    got = list(warc.iter_warc_chunks([raw], max_payload_bytes=cap))
    assert len(got) == 1
    assert len(got[0][2]) > cap  # guaranteed PayloadTooLarge downstream


def test_warc_range_split_member_ownership(tmp_path, corpus_rows):
    """r5 sub-file splitting: the union of iter_warc_range over ANY
    range partition of a per-record-member .warc.gz equals the unsplit
    record list exactly once (each gzip member owned by the range its
    compressed start falls in — duplicate- and gap-free), including
    split points landing mid-member and ranges holding no member."""
    rows = corpus_rows[:120]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    p = tmp_path / "cc.warc.gz"
    warc.write_warc_gz(str(p), recs)
    size = p.stat().st_size
    want = sorted(warc.iter_warc_records(str(p)))
    assert len(want) == 120

    for split in (37, 500, 1024, 4096, size // 3, size, size * 2):
        got = []
        start = 0
        while start < size:
            end = min(start + split, size)
            got.extend(warc.iter_warc_range(str(p), start, end))
            start = end
        assert sorted(got) == want, f"split={split}"

    # single-member archive: range 0 owns everything, the rest nothing
    one = tmp_path / "one.warc.gz"
    warc.write_warc_gz(str(one), recs[:40], per_record_members=False)
    osize = one.stat().st_size
    mid = osize // 2
    assert len(list(warc.iter_warc_range(str(one), 0, mid))) == 40
    assert list(warc.iter_warc_range(str(one), mid, osize)) == []

    # plain uncompressed archive: cannot sync safely -> range 0 owns all
    plain = tmp_path / "plain.warc"
    warc.write_warc(str(plain), recs[:25])
    psize = plain.stat().st_size
    assert len(list(warc.iter_warc_range(str(plain), 0, psize // 2))) == 25
    assert list(warc.iter_warc_range(str(plain), psize // 2, psize)) == []


def test_warc_range_sync_pending_candidate_not_dropped(
    tmp_path, corpus_rows, monkeypatch
):
    """Review-reproduced data loss: a member starting within the
    validator lookahead of the range end (or found right before a
    refill/EOF) was abandoned while pending — its records vanished
    from EVERY range.  Repro shape: 3-member archive, boundary at
    member2_start + 100; plus exhaustive boundary sweep and a
    small-_CHUNK_BYTES run so the multi-chunk sync path (refill
    deferral, buffer trim, EOF finalization) actually executes."""
    rows = corpus_rows[:3]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    p = tmp_path / "three.warc.gz"
    warc.write_warc_gz(str(p), recs)
    size = p.stat().st_size
    # member offsets: scan raw bytes for the validated magic positions
    raw = p.read_bytes()
    starts = [
        j for j in range(len(raw))
        if raw[j:j + 3] == warc._GZ_MAGIC and warc._validate_member(raw, j)
    ]
    assert len(starts) == 3 and starts[0] == 0
    want = sorted(warc.iter_warc_records(str(p)))

    def ranged(bounds):
        got = []
        for s, e in bounds:
            got.extend(warc.iter_warc_range(str(p), s, e))
        return sorted(got)

    # the reviewer's exact repro
    x = starts[1] + 100
    assert ranged([(0, x), (x, size)]) == want
    # exhaustive two-range boundary sweep: every cut point, including
    # exactly-at-member-start, magic-straddling, and lookahead-tail cuts
    for x in range(1, size):
        assert ranged([(0, x), (x, size)]) == want, f"boundary {x}"

    # multi-chunk sync: force tiny read chunks so refill/trim/EOF paths
    # run, over a bigger corpus and several splits
    monkeypatch.setattr(warc, "_CHUNK_BYTES", 256)
    rows2 = corpus_rows[:40]
    p2 = tmp_path / "many.warc.gz"
    warc.write_warc_gz(
        str(p2), [(r["url"], r["warc_ts"], r["html"]) for r in rows2]
    )
    size2 = p2.stat().st_size
    want2 = sorted(warc.iter_warc_records(str(p2)))
    for split in (199, 512, 1024, size2 // 7):
        got = []
        s = 0
        while s < size2:
            e = min(s + split, size2)
            got.extend(warc.iter_warc_range(str(p2), s, e))
            s = e
        assert sorted(got) == want2, f"small-chunk split={split}"


def test_read_warc_stream_split_bytes_validation(spark, tmp_path):
    """split_bytes <= 0 must fail loud, not silently truncate."""
    (tmp_path / "x.warc.gz").write_bytes(b"")
    for bad in (0, -1):
        with pytest.raises(ValueError):
            warc.read_warc_stream(
                spark, str(tmp_path / "*.warc.gz"), split_bytes=bad
            )


def test_read_warc_stream_split_bytes_parity(spark, tmp_path, corpus_rows):
    """read_warc_stream(split_bytes=...) returns exactly the unsplit
    rows — the giant-archive fan-out changes parallelism, not data."""
    rows = corpus_rows[:80]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    warc.write_warc_gz(str(tmp_path / "a.warc.gz"), recs[:50])
    warc.write_warc_gz(str(tmp_path / "b.warc.gz"), recs[50:])

    key = lambda r: (r["url"], bytes(r["html"]), r["warc_ts"], r["lang"])
    whole = sorted(
        map(key, warc.read_warc_stream(
            spark, str(tmp_path / "*.warc.gz")).collect())
    )
    split = sorted(
        map(key, warc.read_warc_stream(
            spark, str(tmp_path / "*.warc.gz"), split_bytes=2048
        ).collect())
    )
    assert split == whole and len(whole) == 80


def test_warc_date_hand_parse_matches_strptime():
    """The hand-cut canonical-layout fast path must be EXACTLY as
    strict as the strptime it bypasses (review regression: separator
    positions and sign/space-padded ints were admitted)."""
    import datetime as _dt
    import random as _r

    def ref(s):
        try:
            return _dt.datetime.strptime(s, warc._WARC_DATE_FMT)
        except ValueError:
            return None

    cases = [
        "2024-01-02T03:04:05Z", "2024/01/02T03:04:05Z",
        "2024x01x02T03x04x05Z", "2024-01-02T03:04: 5Z",
        "2024-01-02T03:04:+5Z", "2024-13-02T03:04:05Z",
        "2024-01-02t03:04:05Z", "٢٠٢٤-01-02T03:04:05Z",
        "2024-01-02T03:04:05 ", "",
    ]
    rng = _r.Random(1)
    for _ in range(3000):
        cases.append("".join(
            rng.choice("0123456789-T:Z /x+")
            for _ in range(rng.choice([19, 20, 21]))
        ))
    for _ in range(500):
        d = _dt.datetime(
            rng.randint(1, 9999), rng.randint(1, 12), rng.randint(1, 28),
            rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
        )
        cases.append(d.strftime(warc._WARC_DATE_FMT))
    for s in cases:
        assert warc._parse_warc_date(s) == ref(s), s


def test_incremental_warc_extract_exactly_once(spark, tmp_path):
    """r5: continuous-crawl ingestion — .warc.gz archives arriving over
    time drain through the record-streaming parse + the batch
    extraction plan exactly once (checkpointed per file, idempotent
    batch_id partitions), byte-identical to the oracle."""
    from ocr_document_recognition_service_spark import gen_pages
    from ocr_document_recognition_service_spark.streaming.incremental import (
        incremental_warc_extract,
    )

    rows = list(gen_pages.gen_rows(80))
    src = tmp_path / "crawl"
    src.mkdir()
    out = str(tmp_path / "warc_out")
    ck = str(tmp_path / "warc_ck")

    def drop(name, chunk):
        warc.write_warc_gz(
            str(src / name),
            [(r["url"], r["warc_ts"], r["html"]) for r in chunk],
        )

    drop("seg0.warc.gz", rows[:30])
    drop("seg1.warc.gz", rows[30:55])
    incremental_warc_extract(spark, str(src / "*.warc.gz"), out, ck)
    got = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert len(got) == 55
    for r in rows[:55]:
        lang = r["url"].split("//")[1][:2]
        assert got[r["url"]] == extract_one.extract_document(
            r["html"], lang
        ).text

    # drain with nothing new: exactly-once, nothing re-ingested
    incremental_warc_extract(spark, str(src / "*.warc.gz"), out, ck)
    assert spark.read.parquet(out).count() == 55

    # a late archive arrives: only its records are processed
    drop("seg2.warc.gz", rows[55:])
    incremental_warc_extract(spark, str(src / "*.warc.gz"), out, ck)
    got2 = {r["url"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert len(got2) == 80
    for r in rows:
        lang = r["url"].split("//")[1][:2]
        assert got2[r["url"]] == extract_one.extract_document(
            r["html"], lang
        ).text


def test_parse_skips_non_response_records(tmp_path):
    p = tmp_path / "mixed.warc"
    body = b"HTTP/1.1 200 OK\r\n\r\nhello"
    raw = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://en.example.org/x\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    p.write_bytes(raw)
    recs = list(warc.parse_warc_bytes(p.read_bytes()))
    assert len(recs) == 1
    url, ts, payload = recs[0]
    assert url == "https://en.example.org/x" and payload == b"hello"
    assert ts is not None and ts.year == 2024


def test_header_fields_noncanonical_and_duplicates():
    """The raw-bytes-key fast path must keep strip/lower semantics for
    writers that deviate from canonical casing, keep last-occurrence-
    wins for duplicated keys, and both entry points must agree."""
    import datetime as dt

    body = b"HTTP/1.1 200 OK\r\n\r\nhi"
    oddball = (
        b"WARC/1.0\r\n"
        b"warc-type: response\r\n"                  # lowercase key
        b"WARC-TARGET-URI:   https://odd.example/a  \r\n"  # caps + pad
        b"Warc-Date : 2024-06-01T00:00:00Z\r\n"     # space before colon
        b"content-LENGTH: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    dup = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://first.example/\r\n"
        b"WARC-Target-URI: https://last.example/\r\n"  # last wins
        b"WARC-Date: 2024-06-02T00:00:00Z\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    # duplicates under MIXED casings must still resolve to the LAST
    # occurrence (a canonical-probe fast path would wrongly pick the
    # canonically-cased one — review-caught divergence)
    mixed = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://canonical.example/\r\n"
        b"warc-target-uri: https://mixed-last.example/\r\n"
        b"warc-date: 2024-06-03T00:00:00Z\r\n"
        b"WARC-DATE: 2024-06-04T00:00:00Z\r\n"
        b"warc-date: 2024-06-05T00:00:00Z\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        + body + b"\r\n\r\n"
    )
    blob = oddball + dup + mixed
    recs = list(warc.parse_warc_bytes(blob))
    assert [r[0] for r in recs] == [
        "https://odd.example/a", "https://last.example/",
        "https://mixed-last.example/",
    ]
    assert recs[2][1] == dt.datetime(2024, 6, 5)
    assert recs[0][1] == dt.datetime(2024, 6, 1)
    assert all(r[2] == b"hi" for r in recs)
    assert list(warc.iter_warc_chunks([blob])) == recs

    # absent keys (warcinfo-shaped) return None/0, never raise
    assert warc._header_fields(b"WARC/1.0\r\nWARC-Type: warcinfo") == (
        0, "warcinfo", None, None,
    )
    # non-numeric / negative lengths clamp to 0
    assert warc._header_fields(
        b"WARC/1.0\r\nContent-Length: -9"
    )[0] == 0
    assert warc._header_fields(
        b"WARC/1.0\r\nContent-Length: 12cows"
    )[0] == 0


def test_truncated_gz_archive_torn_page(tmp_path, corpus_rows):
    """A partially-written .warc.gz (torn upload / in-flight crawl file)
    must STOP the record stream, not raise — otherwise the per-file
    checkpoint in incremental_warc_extract retries the crashing file
    forever and the stream wedges (advisor finding).  Records fully
    decompressed before the tear still come out; the torn tail is
    dropped like a torn page, matching iter_warc_range."""
    import gzip

    rows = corpus_rows[:20]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]

    # (a) per-record members, file cut mid-member: members before the
    # cut survive, the cut member is dropped, no exception
    per_record = tmp_path / "t.warc.gz"
    warc.write_warc_gz(str(per_record), recs)
    raw = per_record.read_bytes()
    member_offs = [
        i for i in range(len(raw)) if raw.startswith(b"\x1f\x8b\x08", i)
    ]
    assert len(member_offs) == 20
    cut = member_offs[7] + 10  # mid-header of the 8th member
    torn = tmp_path / "torn.warc.gz"
    torn.write_bytes(raw[:cut])
    got = list(warc.iter_warc_records(str(torn)))
    want = list(warc.parse_warc_bytes(warc_concat(recs[:7])))
    assert got == want

    # (b) single-member archive cut mid-stream: prefix records that
    # fully decompressed before the tear survive; never raises
    one = tmp_path / "one.warc.gz"
    warc.write_warc_gz(str(one), recs, per_record_members=False)
    braw = one.read_bytes()
    for frac in (0.25, 0.5, 0.9):
        t = tmp_path / f"one_{frac}.warc.gz"
        t.write_bytes(braw[: int(len(braw) * frac)])
        partial = list(warc.iter_warc_records(str(t)))  # must not raise
        assert partial == list(warc.parse_warc_bytes(warc_concat(recs)))[
            : len(partial)
        ]

    # (c) pure garbage with a gzip magic: empty, no exception
    junk = tmp_path / "junk.warc.gz"
    junk.write_bytes(b"\x1f\x8b\x08" + b"\x00" * 64)
    assert list(warc.iter_warc_records(str(junk))) == []


def warc_concat(recs):
    return b"".join(warc._record_bytes(u, ts, b) for u, ts, b in recs)


def test_midfile_corrupt_member_resync(tmp_path, corpus_rows):
    """A flipped byte in ONE mid-file gzip member must cost exactly
    that member's record — every intact member after it still parses
    (review finding: the first torn-page fix stopped at the tear,
    silently dropping 85% of the file).  Applies to both the whole-
    file walk and sub-file ranges."""
    rows = corpus_rows[:20]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    p = tmp_path / "c.warc.gz"
    warc.write_warc_gz(str(p), recs)
    raw = bytearray(p.read_bytes())
    offs = [
        i for i in range(len(raw)) if raw.startswith(b"\x1f\x8b\x08", i)
    ]
    assert len(offs) == 20
    want = list(warc.parse_warc_bytes(warc_concat(recs)))

    # flip one byte in the deflate body of member 3
    for victim, flip_at in [(3, 40), (0, 30), (18, 25)]:
        bad = bytearray(raw)
        bad[offs[victim] + flip_at] ^= 0x5A
        q = tmp_path / f"bad{victim}.warc.gz"
        q.write_bytes(bytes(bad))
        got = list(warc.iter_warc_records(str(q)))
        survivors = [w for k, w in enumerate(want) if k != victim]
        # the torn record must be gone; everything else byte-identical
        # (a CRC-detected tear may surface the victim too — then its
        # url must match; content is unspecified)
        got_urls = [g[0] for g in got]
        for s in survivors:
            assert s in got or s[0] in got_urls, (victim, s[0])
        assert len(got) >= 19
        intact = [g for g in got if g in want]
        assert len(intact) >= 19 or (victim in (0, 3, 18) and len(intact) == 19)

    # range reads resync too: corrupt a middle member, split the file
    # into 3 byte-ranges — union must still hold the 19 intact records
    bad = bytearray(raw)
    bad[offs[10] + 35] ^= 0xA5
    q = tmp_path / "bad_range.warc.gz"
    q.write_bytes(bytes(bad))
    n = len(bad)
    cuts = [0, n // 3, 2 * n // 3, n]
    got = []
    for a, b in zip(cuts, cuts[1:]):
        got.extend(warc.iter_warc_range(str(q), a, b))
    intact = [g for g in got if g in want]
    assert len(intact) >= 19
    assert len(got) <= 20


def test_shared_warc_pages_equals_direct_and_unpersists(
    spark, tmp_path, corpus_rows
):
    """r6: the shared-parse ingest path (persisted pages feeding the
    multi-branch extraction plan) is decision-identical to the direct
    fused path, and the context manager guarantees the unpersist —
    including when the body raises.  The point of the persist is plan
    economics (one parse pass instead of one per lang branch), never
    semantics."""
    rows = corpus_rows[:80]
    recs = [(r["url"], r["warc_ts"], r["html"]) for r in rows]
    warc.write_warc_gz(str(tmp_path / "a.warc.gz"), recs[:40])
    warc.write_warc_gz(str(tmp_path / "b.warc.gz"), recs[40:])
    glob = str(tmp_path / "*.warc.gz")

    direct = extract_pages(warc.read_warc_stream(spark, glob)).select(
        "url", "lang", "n_blocks", "text", "error"
    )
    want = sorted(map(tuple, direct.collect()))

    with warc.shared_warc_pages(spark, glob) as pages:
        assert pages.storageLevel.useMemory  # persisted
        got = sorted(
            map(
                tuple,
                extract_pages(pages)
                .select("url", "lang", "n_blocks", "text", "error")
                .collect(),
            )
        )
        held = pages
    assert got == want
    assert not held.storageLevel.useMemory  # unpersisted on exit

    # unpersist happens even when the body raises
    with pytest.raises(RuntimeError, match="boom"):
        with warc.shared_warc_pages(spark, glob) as pages:
            leaked = pages
            raise RuntimeError("boom")
    assert not leaked.storageLevel.useMemory
