"""WARC source: ingest Common-Crawl-style WARC files into the pages
table shape (url, warc_ts, html, text, lang).

The engine's canonical input is an Iceberg/parquet pages table, but the
raw upstream format for web corpora is WARC — the format 100 TB
actually arrives in.  ``read_warc_stream`` is the one read path:
distributed file listing → one task per WARC file (files are the
natural parallel unit, typically ~1 GB each in Common Crawl, so a
100 TB crawl is ~100k independent tasks) → RECORD-STREAMING parse with
O(record) peak memory: gzip members are decompressed incrementally in
fixed-size chunks (``gzip.GzipFile`` walks Common Crawl's
one-member-per-record layout transparently), records are cut out of a
bounded rolling buffer, any single record is retained only up to
``max_payload_bytes`` + a small envelope allowance (the rest is
consumed and discarded, and the kept prefix is guaranteed to stay
LONGER than the extraction kernel's cap so the row surfaces as the
standard ``PayloadTooLarge`` error row rather than silently truncated
content), and rows leave the worker as byte-bounded Arrow batches.  The
whole file is NEVER materialized — this is the analog of the
reference's streaming directory loaders
(core/pipelines/loaders/image_loader.py:14-31) on the web-corpus input
format.  ``parse_warc_bytes`` is the in-memory whole-blob parse that
the tests use as its reference.

Only ``WARC-Type: response`` records with an HTTP payload become rows;
everything else (warcinfo, request, metadata) is skipped — the standard
extraction-pipeline behavior.  Deterministic writers (plain and
per-record-gzip-member) exist for tests/fixtures.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import re
import zlib
from contextlib import contextmanager
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..charsets import LANGS
from ..extract_one import MAX_PAYLOAD_BYTES
from ..pipeline import PAGES_SCHEMA

_CRLF = b"\r\n"
_WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
_HOST_LANG_RE = re.compile(r"^https?://([a-z]{2})\.")

# streaming-parse bounds
_CHUNK_BYTES = 1 << 20          # decompressed read granularity
_MAX_HEADER_BYTES = 1 << 20     # a WARC header block larger than this
                                # is hostile: resync past it
_ENVELOPE_ALLOWANCE = 64 << 10  # HTTP response headers budget; kept
                                # payload stays > kernel cap even after
                                # the envelope is stripped
_BATCH_ROWS = 256               # Arrow batch flush thresholds
_BATCH_BYTES = 32 << 20


_DATE_CACHE: dict[str, "dt.datetime | None"] = {}
_DATE_CACHE_CAP = 16384  # ~4.5h of distinct seconds; ~2 MB worst case


def _parse_warc_date(s: str) -> dt.datetime | None:
    """Memoized WARC-Date parse: WARC-Date is second-granular, so a
    crawl archive repeats each string ~(fetch rate) times and records
    arrive roughly time-ordered — the memo turns most parses into one
    dict hit (datetime is immutable, so sharing is safe).  The cache
    clears at a fixed cap rather than LRU-evicting: time-ordered input
    means evictions would be pure overhead."""
    try:
        return _DATE_CACHE[s]
    except KeyError:
        if len(_DATE_CACHE) >= _DATE_CACHE_CAP:
            _DATE_CACHE.clear()
        v = _parse_warc_date_uncached(s)
        _DATE_CACHE[s] = v
        return v


def _parse_warc_date_uncached(s: str) -> dt.datetime | None:
    """WARC-Date parse.  The canonical 20-char 'YYYY-MM-DDTHH:MM:SSZ'
    layout is cut by hand — strptime was 26% of record-parse CPU
    (profiled); anything else falls back to strptime, so behavior is
    unchanged."""
    try:
        if (
            len(s) == 20
            and s[4] == s[7] == "-"
            and s[10] == "T"
            and s[13] == s[16] == ":"
            and s[19] == "Z"
            and s.isascii()
        ):
            # every remaining position must be a plain digit — int()
            # alone would admit signs/padding that strptime rejects
            digits = s[0:4] + s[5:7] + s[8:10] + s[11:13] + s[14:16] + s[17:19]
            if digits.isdigit():
                return dt.datetime(
                    int(s[0:4]), int(s[5:7]), int(s[8:10]),
                    int(s[11:13]), int(s[14:16]), int(s[17:19]),
                )
        return dt.datetime.strptime(s, _WARC_DATE_FMT)
    except ValueError:
        return None


def _header_fields(
    block: bytes,
) -> tuple[int, str | None, str | None, str | None]:
    """``(content_length, warc_type, target_uri, date_str)`` from one
    raw WARC header block (the bytes from ``WARC/`` up to the blank
    line).

    The record parse consumes exactly these FOUR keys, so the dict is
    built on BYTES keys (``strip().lower()`` stay in C and cost ~0 —
    the measured ~20% header-block win comes from skipping the per-key
    AND per-value ascii decode + value strip of the old str-keyed
    build); values decode only for the keys consumed.  The
    once-tempting alternative — whole-block ``lower()`` + one
    ``rfind`` per key, no dict — measured 40% SLOWER than the dict
    build (7-line blocks are too small to amortize 8 extra whole-block
    scans).  Lowering per-line (rather than probing canonical casing
    with a lowered-rebuild fallback) keeps the old parser's
    last-occurrence-wins semantics even when a key is duplicated under
    MIXED casings — a canonical-probe fast path resolved those to the
    canonical occurrence instead (review-caught divergence)."""
    headers: dict[bytes, bytes] = {}
    for line in block.split(_CRLF)[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower()] = v
    cl = headers.get(b"content-length")
    wtype = headers.get(b"warc-type")
    uri = headers.get(b"warc-target-uri")
    date = headers.get(b"warc-date")
    try:
        # int() accepts bytes and tolerates surrounding whitespace
        length = int(cl) if cl is not None else 0
    except ValueError:
        length = 0
    # a crafted negative length would rewind the scan BEFORE this
    # record and re-find it forever (review-verified hang) — clamp, so
    # the cursor always advances past the header block
    return (
        max(length, 0),
        wtype.strip().decode("ascii", "replace")
        if wtype is not None else None,
        uri.strip().decode("ascii", "replace") if uri is not None else None,
        date.strip().decode("ascii", "replace")
        if date is not None else None,
    )


def _record_bytes(url: str, ts: dt.datetime, payload: bytes) -> bytes:
    """One WARC/1.0 response record with an HTTP envelope
    (deterministic record id)."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html\r\n"
        b"Content-Length: " + str(len(payload)).encode() + _CRLF
        + _CRLF
        + payload
    )
    rid = hashlib.md5(url.encode()).hexdigest()
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode(),
        b"WARC-Date: " + ts.strftime(_WARC_DATE_FMT).encode(),
        b"WARC-Record-ID: <urn:md5:" + rid.encode() + b">",
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    return _CRLF.join(headers) + _CRLF + _CRLF + http + _CRLF + _CRLF


def write_warc(
    path: str, records: Iterable[tuple[str, dt.datetime, bytes]]
) -> None:
    """Serialize (url, ts, payload) records as a plain WARC/1.0 file."""
    with open(path, "wb") as f:
        for url, ts, payload in records:
            f.write(_record_bytes(url, ts, payload))


def write_warc_gz(
    path: str,
    records: Iterable[tuple[str, dt.datetime, bytes]],
    per_record_members: bool = True,
    compresslevel: int = 9,
) -> None:
    """Serialize records as ``.warc.gz`` — by default one gzip MEMBER
    per record, the Common Crawl layout that makes archives seekable
    and record-streamable; ``per_record_members=False`` writes one
    member for the whole file (also legal WARC, also handled by the
    streaming reader).  *compresslevel* trades fixture-write speed for
    size (bench setup uses 1)."""
    with open(path, "wb") as f:
        if per_record_members:
            for url, ts, payload in records:
                f.write(gzip.compress(_record_bytes(url, ts, payload),
                                      compresslevel=compresslevel, mtime=0))
        else:
            f.write(gzip.compress(
                b"".join(_record_bytes(u, t, p) for u, t, p in records),
                compresslevel=compresslevel, mtime=0,
            ))


def parse_warc_bytes(
    blob: bytes,
) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """Yield (url, ts, payload bytes) for each response record.

    Accepts gzipped input transparently — Common Crawl ships
    ``*.warc.gz`` with per-record gzip members; ``gzip.decompress``
    concatenates multi-member streams."""
    if blob[:2] == b"\x1f\x8b":
        import gzip

        blob = gzip.decompress(blob)
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(b"WARC/", pos)
        if start == -1:
            break
        head_end = blob.find(_CRLF + _CRLF, start)
        if head_end == -1:
            break
        length, wtype, url, date = _header_fields(blob[start:head_end])
        body_start = head_end + 4
        body = blob[body_start : body_start + length]
        pos = body_start + length
        if wtype != "response":
            continue
        ts = _parse_warc_date(date) if date is not None else None
        # strip the HTTP envelope
        http_split = body.find(_CRLF + _CRLF)
        payload = body[http_split + 4 :] if http_split != -1 else body
        if url:
            yield url, ts, payload


def iter_warc_chunks(
    chunks: Iterable[bytes],
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """Incremental WARC parse over a stream of (decompressed) chunks.

    Peak memory is O(chunk + min(record, cap)) — the input is never
    concatenated.  A record whose body exceeds
    ``max_payload_bytes + 64 KiB`` is retained only up to that prefix;
    the remainder is consumed and DISCARDED, and any truncated record
    is GUARANTEED to leave with a payload longer than
    ``max_payload_bytes`` (padded past the cap when envelope stripping
    would dip under it), so it can only surface downstream as the
    standard ``PayloadTooLarge`` error row — never as
    truncated-but-valid content.  Malformed header blocks (no
    terminator within 1 MiB) are resynced past rather than ballooning
    the buffer.

    Yields the same (url, ts, payload) tuples as ``parse_warc_bytes``
    and is pinned byte-identical to it on well-formed input.

    A ``None`` element in *chunks* is a DISCONTINUITY marker (a gzip
    member-resync skipped corrupt bytes): the record in progress is
    dropped — its remaining body bytes never arrive, and consuming the
    declared length would swallow the records after the resync point —
    and parsing restarts clean at the next header.
    """
    keep_cap = max_payload_bytes + _ENVELOPE_ALLOWANCE
    buf = bytearray()
    it = iter(chunks)

    def fill() -> str:
        try:
            c = next(it)
        except StopIteration:
            return "end"
        if c is None:
            buf.clear()
            return "skip"
        buf.extend(c)
        return "data"

    while True:
        # ---- locate a terminated "WARC/…\r\n\r\n" header block ----
        while True:
            start = buf.find(b"WARC/")
            if start >= 0:
                head_end = buf.find(_CRLF + _CRLF, start)
                if head_end >= 0:
                    break
                if len(buf) - start > _MAX_HEADER_BYTES:
                    del buf[: start + 5]  # hostile header: resync
                    continue
                if start > 0:
                    del buf[:start]
            elif len(buf) > 8:
                # nothing useful; keep a tail in case "WARC/" straddles
                # the chunk boundary
                del buf[: len(buf) - 8]
            if fill() == "end":
                return
            # "skip" between records just clears stale bytes — loop on
        if start > 0:
            del buf[:start]
            head_end -= start
        length, wtype, url, date = _header_fields(bytes(buf[:head_end]))
        del buf[: head_end + 4]

        # ---- consume exactly `length` body bytes, keep ≤ keep_cap ----
        kept = bytearray()
        remaining = length
        truncated_file = False
        discontinuity = False
        while remaining > 0:
            if not buf:
                st = fill()
                if st == "end":
                    truncated_file = True
                    break
                if st == "skip":
                    discontinuity = True
                    break
            take = min(len(buf), remaining)
            short = keep_cap - len(kept)
            if short > 0:
                kept.extend(buf[: min(take, short)])
            del buf[:take]
            remaining -= take
        if truncated_file:
            return  # partial trailing record: drop, like a torn page
        if discontinuity:
            continue  # drop the torn record, parse on from the resync

        if wtype != "response":
            continue
        ts = _parse_warc_date(date) if date is not None else None
        body = bytes(kept)
        # strip the HTTP envelope over the WHOLE kept body (already
        # memory-bounded by keep_cap) — an envelope search window
        # smaller than the kept body diverged from parse_warc_bytes on
        # well-formed records with large HTTP headers (review finding)
        http_split = body.find(_CRLF + _CRLF)
        payload = body[http_split + 4:] if http_split != -1 else body
        if length > keep_cap and len(payload) <= max_payload_bytes:
            # the record WAS truncated but envelope stripping pulled the
            # kept prefix back under the kernel cap (oversized envelope /
            # boundary cases) — pad deterministically past the cap so
            # the row can only surface as PayloadTooLarge, never as
            # silently truncated content
            payload += b"\x00" * (max_payload_bytes + 1 - len(payload))
        if url:
            yield url, ts, payload


def _open_chunks(path: str) -> Iterator[bytes | None]:
    """Fixed-size decompressed chunks from a local ``.warc`` /
    ``.warc.gz`` file via the shared zlib member walk
    (``_gz_member_chunks``) — memory stays O(chunk) regardless of
    file size.

    A corrupt member is SKIPPED: the walk resyncs to the next
    validated member boundary (Common Crawl's member-per-record layout
    makes that safe) and emits a ``None`` discontinuity marker so
    ``iter_warc_chunks`` drops only the torn record — a single flipped
    byte 1% into a 1 GB archive costs one record, not 99% of the file
    (review finding; the first fix stopped at the tear, which was
    silent mass data loss on mid-file corruption).  A truncated FINAL
    member stops the stream (torn page), and a partially-written
    archive can no longer wedge ``incremental_warc_extract``'s
    per-file checkpoint retry (advisor finding).  ``gzip.GzipFile``
    could do none of this: its ``read()`` buffers whole members and
    DISCARDS everything decompressed inside the call that hits the
    tear — hence the explicit ``zlib`` member walk."""
    import os

    with open(path, "rb") as f:
        if f.read(2) != b"\x1f\x8b":
            f.seek(0)
            while True:
                c = f.read(_CHUNK_BYTES)
                if not c:
                    return
                yield c
            return
        size = os.fstat(f.fileno()).st_size
        yield from _gz_member_chunks(f, 0, size)


def iter_warc_records(
    path: str, max_payload_bytes: int = MAX_PAYLOAD_BYTES
) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """Record-stream one WARC file from disk with bounded memory."""
    return iter_warc_chunks(_open_chunks(path), max_payload_bytes)


# ---------------------------------------------------------------------
# Sub-file range splitting (.warc.gz): a few giant archives must not
# straggle single tasks.  Common Crawl's member-per-record layout makes
# byte ranges syncable: a task owning [start, end) scans RAW bytes for
# the gzip magic, validates a candidate by decompressing its first
# bytes (must yield "WARC/"), and processes every member whose
# COMPRESSED start lies in its range — each member is owned by exactly
# one range, so the union over ranges is exactly the file, duplicate-
# and gap-free.  A single-member archive degenerates gracefully: range
# 0 owns the whole member (split cannot help, memory stays bounded).
# ---------------------------------------------------------------------

_GZ_MAGIC = b"\x1f\x8b\x08"
_SYNC_VALIDATE_BYTES = 10  # decompressed prefix that must be "WARC/1.0\r\n"
_SYNC_PROBE_BYTES = 4096   # compressed bytes fed to the validator — a
                           # legitimate member must emit output within
                           # this much input (covers long FNAME/FEXTRA
                           # gzip headers, which 512 did not)


def _validate_member(buf: bytes, off: int) -> bool:
    """Does a real gzip member whose decompressed stream starts with a
    WARC header begin at *off*?  (Raw compressed bytes can contain the
    3-byte magic by chance — decompression is the arbiter.)"""
    import zlib

    d = zlib.decompressobj(wbits=31)
    try:
        out = d.decompress(buf[off:off + _SYNC_PROBE_BYTES],
                           _SYNC_VALIDATE_BYTES)
    except zlib.error:
        return False
    return out.startswith(b"WARC/"[: len(out)]) and len(out) > 0


def _sync_member(f, start: int, end: int) -> int | None:
    """File offset of the first validated gzip member starting in
    [*start*, *end*), streamed in O(chunk) memory; None when no member
    starts in the range.

    A candidate found too close to the buffer tail to validate is kept
    PENDING across refills and gets a final validation attempt at EOF —
    the first version returned early in both situations, silently
    dropping the member from every range (review-reproduced data
    loss)."""
    overlap = len(_GZ_MAGIC) + _SYNC_PROBE_BYTES
    f.seek(start)
    buf = b""
    base = start          # file offset of buf[0]
    scan_from = 0         # magic search resumes here
    at_eof = False
    while True:
        j = buf.find(_GZ_MAGIC, scan_from)
        if j != -1:
            if base + j >= end:
                return None  # earliest candidate already past the range
            if len(buf) - j >= overlap or at_eof:
                if _validate_member(buf, j):
                    return base + j
                scan_from = j + 1
                continue
            # pending: candidate needs more lookahead — refill below
            # WITHOUT advancing scan_from
        else:
            # no candidate; done once every start < end is scanned with
            # full magic visibility (magic may straddle end-1..end+1)
            if at_eof or base + len(buf) >= end + len(_GZ_MAGIC) - 1:
                return None
        if at_eof:
            return None
        chunk = f.read(_CHUNK_BYTES)
        if not chunk:
            at_eof = True  # loop once more: pending candidate gets its
            continue       # final validation with what exists
        # trim consumed prefix, never past a pending candidate or the
        # validator lookahead tail
        pend = j if j != -1 else len(buf)
        keep_from = min(pend, max(len(buf) - overlap, 0))
        if keep_from > 0:
            base += keep_from
            buf = buf[keep_from:]
            scan_from = max(scan_from - keep_from, 0)
        buf += chunk


def _gz_member_chunks(
    f, start: int, end: int
) -> Iterator[bytes | None]:
    """Decompressed chunks of consecutive gzip members from file
    offset *start*, owning every member whose COMPRESSED start lies in
    [*start*, *end*) (a member crossing *end* is finished by its
    owner).  Peak memory O(chunk).

    Corruption semantics: a member that fails to decompress is skipped
    — resync to the next validated member boundary in-range
    (``_sync_member``), yielding a ``None`` discontinuity marker so
    ``iter_warc_chunks`` drops the torn record and parses on.  A
    truncated FINAL member (no further member to sync to) ends the
    stream: torn-page drop."""
    pos = start          # file offset after the last read
    member_start = start  # compressed offset of the current member
    f.seek(start)
    d = zlib.decompressobj(wbits=31)
    while True:
        raw = f.read(_CHUNK_BYTES)
        if not raw:
            # truncated final member: whatever decompressed was
            # yielded; iter_warc_chunks drops the torn record
            return
        pos += len(raw)
        data = raw
        while data:
            try:
                out = d.decompress(data, _CHUNK_BYTES)
            except zlib.error:
                nxt = _sync_member(f, member_start + 1, end)
                if nxt is None:
                    return  # no salvageable member left in-range
                yield None  # discontinuity: drop the torn record
                f.seek(nxt)
                pos = nxt
                member_start = nxt
                d = zlib.decompressobj(wbits=31)
                data = b""
                continue
            if out:
                yield out
            if d.eof:
                tail = d.unused_data
                # next member's compressed offset
                member_start = pos - len(tail)
                if member_start >= end:
                    return  # next member owned by a later range
                d = zlib.decompressobj(wbits=31)
                data = tail
            elif d.unconsumed_tail:
                data = d.unconsumed_tail
            else:
                data = b""


def _range_chunks(
    path: str, start: int, end: int
) -> Iterator[bytes | None]:
    """Decompressed chunks of every gzip member whose compressed start
    lies in [*start*, *end*) — the member-ownership contract above,
    with the shared corruption-resync walk (``_gz_member_chunks``)."""
    with open(path, "rb") as f:
        if start == 0:
            pos: int | None = 0
        else:
            pos = _sync_member(f, start, end)
            if pos is None:
                return  # no member starts in this range
        yield from _gz_member_chunks(f, pos, end)


def iter_warc_range(
    path: str,
    start: int,
    end: int,
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
) -> Iterator[tuple[str, dt.datetime | None, bytes]]:
    """Records of the members owned by byte range [*start*, *end*) of a
    ``.warc.gz`` file (see ``_range_chunks`` for the ownership rule).

    Plain (uncompressed) WARC cannot be range-synced safely — a
    payload may legally CONTAIN "WARC/1.0" bytes, so any mid-file
    marker scan can mis-split a record; for those, range 0 owns the
    whole file and every other range yields nothing (correct, just
    unsplit)."""
    with open(path, "rb") as probe:
        gz = probe.read(2) == b"\x1f\x8b"
    if not gz:
        if start == 0:
            yield from iter_warc_records(path, max_payload_bytes)
        return
    yield from iter_warc_chunks(
        _range_chunks(path, start, end), max_payload_bytes
    )


def _uri_to_path(uri: str) -> str:
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    return uri


def read_warc_stream(
    spark: SparkSession,
    path_glob: str,
    infer_lang_from_host: bool = True,
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
    num_tasks: int | None = None,
    split_bytes: int | None = None,
) -> DataFrame:
    """Distributed record-streaming WARC → pages DataFrame (scale path).

    The ``binaryFile`` source supplies only the distributed file
    LISTING (selecting just ``path`` prunes the content column, so no
    blob is read and the 2 GB binaryFile cap never applies); each task
    then streams its files record-by-record via ``iter_warc_records``
    and emits byte-bounded Arrow batches.  Peak task memory is
    O(batch) ≈ 32 MiB + one capped record, independent of file size —
    a 1 GB ``.warc.gz`` (≈4-5 GB decompressed) streams through the
    same footprint as a 1 MB one.

    Parallelism is per-file (the Common Crawl contract: ~1 GB files,
    100k of them for a full crawl → plenty of tasks for any cluster).
    When a FEW GIANT archives would straggle whole tasks, pass
    ``split_bytes``: each file fans out into byte ranges and every
    range processes exactly the gzip members STARTING inside it
    (``iter_warc_range``'s sync — duplicate- and gap-free by member
    ownership; plain uncompressed archives stay unsplit, see
    ``iter_warc_range``).  ``num_tasks`` overrides the task spread.
    """
    from pyspark.sql import functions as F

    if split_bytes is not None and split_bytes <= 0:
        raise ValueError(
            f"split_bytes must be positive, got {split_bytes} — a "
            "non-positive split would silently truncate the corpus"
        )
    files = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "length")
    )
    if split_bytes is not None:
        n_ranges = F.greatest(
            F.ceil(F.col("length") / F.lit(split_bytes)), F.lit(1)
        ).cast("int")
        files = files.select(
            "path",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_ranges - 1),
                    lambda i: F.struct(
                        (i.cast("long") * split_bytes).alias("start"),
                        F.least(
                            (i.cast("long") + 1) * split_bytes,
                            F.col("length"),
                        ).alias("end"),
                    ),
                )
            ).alias("_r"),
        ).select("path", "_r.start", "_r.end")
    return pages_from_file_listing(
        spark, files, infer_lang_from_host, max_payload_bytes, num_tasks
    )


def pages_from_file_listing(
    spark: SparkSession,
    files: DataFrame,
    infer_lang_from_host: bool = True,
    max_payload_bytes: int = MAX_PAYLOAD_BYTES,
    num_tasks: int | None = None,
) -> DataFrame:
    """Record-stream the WARC files named by a ``path`` column into the
    pages shape — the shared tail of ``read_warc_stream`` (batch glob)
    and ``streaming.incremental.incremental_warc_extract`` (file-stream
    micro-batches, which pass an explicit path list).  When the frame
    also carries ``start``/``end`` columns, each row is a BYTE RANGE
    of its file and only the gzip members starting inside it are
    parsed (sub-file parallelism for giant archives)."""
    from ..pydeps import ensure_py_deps

    ensure_py_deps(spark)
    ranged = "start" in files.columns and "end" in files.columns
    sel = ["path", "start", "end"] if ranged else ["path"]
    # column-less repartition = ROUND-ROBIN: files spread evenly over
    # tasks (hashing by path leaves ~1/e of tasks empty and doubles up
    # others — the stragglers gate the wall)
    files = files.select(*sel).repartition(
        num_tasks or spark.sparkContext.defaultParallelism
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_document_recognition_service_spark.pydeps import (
            keep_zip_indexes,
        )

        keep_zip_indexes()
        from ocr_document_recognition_service_spark.sources.warc import (
            _BATCH_BYTES,
            _BATCH_ROWS,
            _HOST_LANG_RE,
            _uri_to_path,
            iter_warc_range,
            iter_warc_records,
        )

        cols = ["url", "warc_ts", "html", "text", "lang"]
        rows: list[tuple] = []
        pend = 0
        for pdf in batches:
            if ranged:
                work = (
                    (u, int(s), int(e))
                    for u, s, e in zip(pdf["path"], pdf["start"], pdf["end"])
                )
            else:
                work = ((u, None, None) for u in pdf["path"])
            for uri, rs, re_ in work:
                local = _uri_to_path(uri)
                rec_iter = (
                    iter_warc_range(local, rs, re_, max_payload_bytes)
                    if rs is not None
                    else iter_warc_records(local, max_payload_bytes)
                )
                for url, ts, payload in rec_iter:
                    lang = None
                    if infer_lang_from_host:
                        m = _HOST_LANG_RE.match(url)
                        if m and m.group(1) in LANGS:
                            lang = m.group(1)
                    rows.append((url, ts, payload, None, lang))
                    pend += len(payload)
                    if len(rows) >= _BATCH_ROWS or pend >= _BATCH_BYTES:
                        yield pd.DataFrame(rows, columns=cols)
                        rows, pend = [], 0
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema=PAGES_SCHEMA)


@contextmanager
def shared_warc_pages(
    spark: SparkSession,
    path_glob: str,
    storage_level: "StorageLevel | None" = None,
    **read_kw,
) -> Iterator[DataFrame]:
    """``read_warc_stream`` persisted for MULTI-CONSUMER plans.

    ``extract_pages`` routes languages as separate DataFrame branches
    (the north-rule plan shape).  Over a parquet pages table each
    branch is a partition-PRUNED scan, so N branches cost one corpus
    pass total.  Over the fused WARC path there is nothing to prune:
    Catalyst pushes each branch's lang filter down to sit directly
    above the parse ``mapInPandas``, the branches share no exchange,
    and every branch re-lists, re-decompresses and re-parses EVERY
    archive — at 100 TB that is N_branches× the whole-corpus gunzip
    cost, the single biggest avoidable expense of fused ingest.
    (An explicit ``repartition`` between parse and routing does NOT
    fix it: the filters push through the exchange, the per-branch
    exchanges then differ, and exchange reuse never fires — measured
    4.9–5.9 s vs 3.2 s direct at the bench shape.)

    This context manager applies the canonical Spark fix for a
    multi-consumer UDF subtree: persist the parsed pages (default
    MEMORY_AND_DISK — spill-safe, executor-local) so the parse runs
    ONCE and every branch reads the cache, and GUARANTEE the
    unpersist.  Measured at the bench shape (20k docs, 32 files,
    local[32]): 2.5 s vs 3.2 s direct — and the gap widens with
    branch count, payload size and compression level, exactly the
    100 TB direction.  For the durable production path (re-runnable,
    lineage-tracked) materialize to a lang-partitioned parquet pages
    table instead (``lineage.run_extraction``) and let the branches
    prune at scan: its extract leg measured 1.2 s here.

    Usage::

        with shared_warc_pages(spark, "s3://crawl/*.warc.gz") as pages:
            out = extract_pages(pages)
            out.write.parquet(...)          # terminal action INSIDE
    """
    from pyspark.storagelevel import StorageLevel

    pages = read_warc_stream(spark, path_glob, **read_kw).persist(
        storage_level or StorageLevel.MEMORY_AND_DISK
    )
    try:
        yield pages
    finally:
        pages.unpersist(blocking=False)
