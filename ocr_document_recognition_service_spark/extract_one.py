"""Pure-Python single-document reference extractor — the ORACLE.

Defines byte-identical truth for the whole engine (SURVEY §7.1 step 2):
golden texts are generated from this module once and frozen; pytest
asserts that the Spark pipeline reproduces them byte-for-byte per url,
including through the salted/split skew path.

Stage order per document (mirrors the reference pipeline
loader→detector→postprocessor→recognizer, ``core/pipelines/run.py:27-41``,
re-expressed for web pages):

1. format dispatch by magic bytes (F5) — ``%PDF`` vs HTML;
2. decode (HTML: charset sniff §1.4; PDF: pinned mini-PDF profile);
3. block candidates (HTML: DOM walk + boilerpipe scoring D1/D3;
   PDF: coordinate blocks + L1–L3 reading order);
4. per-block whitespace cleanup (F4);
5. language = given ``lang`` or majority vote over block text (R6);
6. per-script normalization (R3–R7);
7. join non-empty blocks with ``\\n``.

Errors never propagate (the reference swallows per-stage exceptions,
``base.py:37-41`` — an anti-pattern): here they surface as
``text=None`` + an ``error`` string, countable in lineage.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import charsets, html_extract, pdf_extract


@dataclass(frozen=True)
class ExtractResult:
    text: str | None
    n_blocks: int
    lang: str | None  # language actually used for normalization
    error: str | None = None


def _finalize(blocks: list[str], lang: str | None) -> ExtractResult:
    blocks = [b for b in blocks if b]
    used = lang if lang in charsets.LANGS else charsets.detect_language(
        " ".join(blocks)
    )
    normed = [charsets.normalize_text(b, used) for b in blocks]
    normed = [b for b in (t.strip() for t in normed) if b]
    return ExtractResult(text="\n".join(normed), n_blocks=len(normed), lang=used)


# Hard payload cap: a single row above this is a data error, not skew
# (skew up to the cap is handled by salting).  At 100 TB a handful of
# pathological multi-GB "pages" must become error rows, not OOMs.
MAX_PAYLOAD_BYTES = 64 * 1024 * 1024


def extract_document(
    payload: bytes | None,
    lang: str | None,
    max_bytes: int = MAX_PAYLOAD_BYTES,
) -> ExtractResult:
    """Extract main content from one page payload (HTML or PDF bytes)."""
    if payload is None or len(payload) == 0:
        return ExtractResult(text="", n_blocks=0, lang=lang)
    if max_bytes and len(payload) > max_bytes:
        return ExtractResult(
            text=None,
            n_blocks=0,
            lang=lang,
            error=f"PayloadTooLarge: {len(payload)} > {max_bytes} bytes",
        )
    try:
        if pdf_extract.is_pdf(payload):
            blocks = [
                html_extract.clean_text(t)
                for t in pdf_extract.extract_pdf_text(payload)
            ]
        else:
            blocks = html_extract.extract_html_text(
                html_extract.sniff_decode(payload)
            )
        return _finalize(blocks, lang)
    except Exception as exc:  # surfaced, never swallowed (§4 error handling)
        return ExtractResult(
            text=None, n_blocks=0, lang=lang, error=f"{type(exc).__name__}: {exc}"
        )


# ---------------------------------------------------------------------------
# Salt-split support (SURVEY §4 "Skew handling", §7.1 step 5).
# Oversized HTML payloads are split at top-level block boundaries; each
# chunk extracts independently; chunks re-join with "\n".  Because every
# feature in html_extract is block-local, split ∘ extract ∘ join is
# byte-identical to unsplit extraction — asserted by tests.
# ---------------------------------------------------------------------------

# Cut only after paragraph/heading closes, and ONLY when the block
# parser is provably back in its initial scope state at that byte: no
# open SKIP tag, no open boilerplate container, no open <a>, not inside
# a comment / rawtext script / attribute value.  A cut inside any open
# scope makes the next chunk's fresh parser classify boilerplate (or
# link text) as content — byte divergence from the unsplit oracle.
# </li>/</div> are deliberately NOT cut tags (they nest too freely).
_SPLIT_CLOSE_TAGS = frozenset((b"p", b"h1", b"h2", b"h3"))

# Byte-level twins of the html_extract fast-tokenizer patterns.  Tag
# syntax is pure ASCII and UTF-8 is ASCII-transparent, so tokenizing the
# raw bytes is isomorphic to tokenizing the decoded text (split only
# runs for UTF-8/unmarked documents — enforced below).
_TAG_RE_B = re.compile(
    rb"""<(?:
        !--.*?--\s*>
      | !\[?[^>]*>?
      | \?[^>]*>?
      | (/?)
        ([a-zA-Z][a-zA-Z0-9.:_-]*)
        ((?:"[^"]*"|'[^']*'|[^>"'])*)
        (/?)
        >
    )""",
    re.DOTALL | re.VERBOSE,
)
_RAWTEXT_CLOSE_B = {
    t: re.compile(rb"</\s*%s(?=[\s>/])" % t.encode(), re.IGNORECASE)
    for t in ("script", "style")
}
_ATTR_HINT_B = re.compile(rb"class|id|role", re.IGNORECASE)


def _safe_cut_points(raw: bytes) -> list[int]:
    """Byte offsets immediately after a </p>/</h1>-</h3> close tag at
    which the block parser's scope state equals its initial state, so a
    fresh parser on the next chunk reproduces the unsplit parse exactly.

    Runs the same tag tokenization as ``html_extract._fast_feed`` (byte
    flavor) and mirrors exactly the state transitions of
    ``_BlockParser.handle_starttag/handle_endtag`` that outlive a flush:
    the SKIP counter, the boiler stack, and the <a> depth.  Conservative
    on un-analyzable tails (unterminated comment / rawtext): no point
    after them is reported, so those documents simply split less.
    """
    pts: list[int] = []
    skip = 0
    boiler_stack: list[str] = []
    a_depth = 0
    pos, n = 0, len(raw)
    while pos < n:
        lt = raw.find(b"<", pos)
        if lt == -1:
            break
        if raw.startswith(b"<!--", lt) and raw.find(b"-->", lt) == -1:
            break  # unterminated comment: tail state not provable
        m = _TAG_RE_B.match(raw, lt)
        if not m:
            pos = lt + 1  # bare '<' is data, as in the parser
            continue
        pos = m.end()
        bname = m.group(2)
        if not bname:  # comment / decl / PI
            continue
        name = bname.lower().decode("ascii")
        if m.group(1):  # ---- close tag --------------------------------
            if name in html_extract.SKIP_TAGS:
                skip = max(0, skip - 1)
                continue
            if boiler_stack and name == boiler_stack[-1]:
                boiler_stack.pop()
            if name == "a":
                a_depth = max(0, a_depth - 1)
            if (
                bname.lower() in _SPLIT_CLOSE_TAGS
                and not skip
                and not boiler_stack
                and not a_depth
            ):
                pts.append(pos)
            continue
        # ---- start tag ------------------------------------------------
        raw_attrs = m.group(3) or b""
        selfclose = bool(m.group(4))
        if not selfclose and raw_attrs.endswith(b"/"):
            prev = raw_attrs[-2:-1]
            if prev in (b"", b" ", b"\t", b"\n", b"\r", b'"', b"'"):
                selfclose = True
                raw_attrs = raw_attrs[:-1]
        if selfclose:
            continue  # handle_startendtag never touches scope state
        if name in html_extract.SKIP_TAGS:
            skip += 1
            if name in _RAWTEXT_CLOSE_B:  # script/style: raw content
                cm = _RAWTEXT_CLOSE_B[name].search(raw, pos)
                if cm is None:
                    break  # unterminated rawtext: tail is skipped anyway
                gt = raw.find(b">", cm.start())
                skip = max(0, skip - 1)
                pos = (gt + 1) if gt != -1 else n
            continue
        if name in html_extract.BOILER_TAGS or (
            _ATTR_HINT_B.search(raw_attrs)
            and html_extract._BlockParser._is_boiler_attrs(
                html_extract._parse_attrs(raw_attrs.decode("utf-8", "replace"))
            )
        ):
            boiler_stack.append(name)
        if name == "a":
            a_depth += 1
    return pts


def split_html(raw: bytes, target_bytes: int) -> list[bytes]:
    """Split raw HTML into ~target_bytes chunks at safe block boundaries.

    A cut happens only immediately after a </p>/</h1>-</h3> close AND
    outside every SKIP/boiler/<a> scope (see ``_safe_cut_points``), so
    no block, boilerplate container, or link scope is ever severed.  PDF
    payloads are never split (document-global deskew/median stats,
    L2/L3); non-UTF-8 documents are never split (chunks 1+ would lose
    the ``meta charset`` declaration sniffed in chunk 0).

    ``_safe_cut_points`` is a byte-twin of ``html_extract``'s
    tokenizer (``_fast_feed``), the only one the kernel runs.
    """
    if len(raw) <= target_bytes or pdf_extract.is_pdf(raw):
        return [raw]
    m = html_extract._CHARSET_RE.search(raw[:2048])
    if m:
        if m.group(1).lower() not in (b"utf-8", b"utf8"):
            return [raw]
    else:
        # no declaration: chunks 1+ would re-run the legacy-encoding
        # heuristic on a meta-less prefix-free slice and could diverge —
        # only split payloads that provably ARE UTF-8
        try:
            raw.decode("utf-8")
        except UnicodeDecodeError:
            return [raw]
    pts = _safe_cut_points(raw)
    chunks: list[bytes] = []
    start = 0
    n = len(raw)
    i = 0
    while n - start > target_bytes:
        want = start + target_bytes
        while i < len(pts) and pts[i] < want:
            i += 1
        if i >= len(pts):
            break
        cut = pts[i]
        chunks.append(raw[start:cut])
        start = cut
    chunks.append(raw[start:])
    return chunks


def extract_document_split(
    payload: bytes | None,
    lang: str | None,
    target_bytes: int,
    max_bytes: int = MAX_PAYLOAD_BYTES,
) -> ExtractResult:
    """Oracle for the salted path: split, extract per chunk, re-join.
    Payloads above the hard cap short-circuit to the error row (the
    pipeline routes them away from the split branch the same way)."""
    if (
        payload is None
        or len(payload) == 0
        or (max_bytes and len(payload) > max_bytes)
        or pdf_extract.is_pdf(payload)
    ):
        return extract_document(payload, lang, max_bytes=max_bytes)
    parts = split_html(payload, target_bytes)
    if len(parts) == 1:
        return extract_document(payload, lang)
    # Language must be decided once per document (chunks may skew the
    # vote): use the given lang, else vote over the full payload.
    if lang not in charsets.LANGS:
        full = html_extract.extract_html_text(html_extract.sniff_decode(payload))
        lang = charsets.detect_language(" ".join(b for b in full if b))
    results = [extract_document(p, lang) for p in parts]
    err = next((r.error for r in results if r.error), None)
    if err:
        return ExtractResult(text=None, n_blocks=0, lang=lang, error=err)
    texts = [r.text for r in results if r.text]
    return ExtractResult(
        text="\n".join(texts),
        n_blocks=sum(r.n_blocks for r in results),
        lang=lang,
    )
