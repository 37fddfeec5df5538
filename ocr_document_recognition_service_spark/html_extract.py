"""HTML main-content extraction kernel (SURVEY §2.3 D1/D3, §2.2 F4/F5).

The web analog of the reference's text *detection* stage
(``core/pipelines/detectors/fast.py:67-110``): instead of a neural net
emitting word boxes, a DOM walk emits one candidate per block-level node
with local features (char count, link-char count, tag, boilerplate
container flag), and a Boilerpipe-style text-density / link-density
classifier (Kohlschütter et al., WSDM 2010 — public heuristic) keeps the
main-content blocks.

Design constraints (pinned; tests depend on them):

- **Parser**: a compiled-regex tokenizer (``_fast_feed``) with
  ``html.parser`` semantics (no lxml in the sandbox — SURVEY §7.5),
  driving the event methods of an ``HTMLParser`` subclass.  Tolerant of
  malformed markup, never raises on bad nesting.
- **Locality**: every feature and the classification itself are local to
  one block.  This is what makes salt-splitting oversized documents at
  block boundaries byte-identical to unsplit extraction (SURVEY §4
  "Skew handling").
- **Encoding** (§1.4): ``<meta charset>`` sniffed from the first 2048
  bytes, else UTF-8; always ``errors="replace"`` — mirrors the
  reference's chardet-then-utf8 fallback (eval_loader.py:12-16)
  deterministically.
- **Cleanup** (F4): per block, CR/LF → space, collapse ``\\s+``, strip —
  the reference's ``clean_text`` (wiki_parser_to_pdf.py:22-26).
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Tags whose entire subtree is invisible text-wise.
SKIP_TAGS = frozenset(
    "script style noscript template svg head iframe object embed".split()
)
# Semantic boilerplate containers: content inside is never main content.
BOILER_TAGS = frozenset(
    "nav header footer aside form menu button select option label".split()
)
# class/id tokens that mark a container as boilerplate.
BOILER_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(nav|menu|footer|header|sidebar|banner|breadcrumb|comment|"
    r"promo|cookie|social|share|related|widget|advert|ads?)(?:$|[\s_-])",
    re.IGNORECASE,
)
# Tags that delimit text blocks (start OR end flushes the running buffer).
BLOCK_TAGS = frozenset(
    (
        "p h1 h2 h3 h4 h5 h6 li td th tr blockquote pre dt dd figcaption "
        "caption div section article main table ul ol dl body br hr"
    ).split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())

MAX_LINK_DENSITY = 1.0 / 3.0
MIN_CONTENT_WORDS = 2

_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,200}?charset\s*=\s*["']?([A-Za-z0-9_\-]{1,40})""",
    re.IGNORECASE,
)
_WS_RE = re.compile(r"\s+")
# text needing NO cleanup: no non-space whitespace, no double space, no
# leading/trailing space — then clean_text is the identity (fast path)
_WS_DIRTY_RE = re.compile(r"[^\S ]| {2}|^ | $")


def sniff_decode(raw: bytes) -> str:
    """Deterministic charset sniff + decode (§1.4, pinned).

    Order: declared ``meta charset`` → strict UTF-8 → byte-statistic
    fallback (``detect_legacy_encoding``) → UTF-8 with replacement.
    The fallback is the deterministic analog of the reference's chardet
    call (eval_loader.py:12-16) for the dominant legacy case: cp1251
    Cyrillic pages that never declared an encoding.
    """
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        cand = m.group(1).decode("ascii", "replace")
        try:
            codecs.lookup(cand)
            return raw.decode(cand, errors="replace")
        except LookupError:
            pass
        return raw.decode("utf-8", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        enc = detect_legacy_encoding(raw)
        return raw.decode(enc, errors="replace")


def detect_legacy_encoding(raw: bytes, sample_bytes: int = 65536) -> str:
    """Deterministic legacy-encoding heuristic for NON-UTF-8 payloads:
    windows-1251 when (a) ≥60% of the sampled high bytes sit in its
    Cyrillic letter range 0xC0–0xFF (the statistically dominant band of
    Russian cp1251 text) AND (b) ≥70% of high bytes are ADJACENT to
    another high byte — Cyrillic text is runs of whole high-byte words,
    while latin-1/cp1252 accents (é à ü, the same 0xC0–0xFF band) occur
    isolated inside ASCII words, so undeclared Western pages fall
    through to UTF-8-with-replacement instead of decoding as Cyrillic
    mojibake.  Pure byte counting — no library, same answer on every
    engine and run."""
    sample = raw[:sample_bytes]
    n = len(sample)
    high = cyr = run_adj = 0
    for i, b in enumerate(sample):
        if b >= 0x80:
            high += 1
            if b >= 0xC0:
                cyr += 1
            if (i > 0 and sample[i - 1] >= 0x80) or (
                i + 1 < n and sample[i + 1] >= 0x80
            ):
                run_adj += 1
    if high and cyr / high >= 0.6 and run_adj / high >= 0.7:
        return "windows-1251"
    return "utf-8"


def clean_text(text: str) -> str:
    """F4 whitespace normalization — reference ``clean_text`` semantics
    (wiki_parser_to_pdf.py:22-26): CR/LF → space, collapse, strip."""
    if _WS_DIRTY_RE.search(text) is None:
        return text
    return _WS_RE.sub(" ", text.replace("\n", " ").replace("\r", " ")).strip()


@dataclass
class Block:
    """One block-level text candidate (web analog of a detection box)."""

    tag: str
    boiler: bool
    parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    raw_chars: int = 0

    _text: str | None = None

    @property
    def text(self) -> str:
        # cached: both is_content() and the final extraction read it
        if self._text is None:
            self._text = clean_text("".join(self.parts))
        return self._text

    @property
    def link_density(self) -> float:
        return self.link_chars / self.raw_chars if self.raw_chars else 0.0

    def is_content(self) -> bool:
        """Boilerpipe-style local classification (D3).

        Boilerplate container → no.  Link density > 1/3 → no (link
        farms / nav lists).  Headings with acceptable link density →
        yes.  Otherwise require ≥ MIN_CONTENT_WORDS words.
        """
        if self.boiler:
            return False
        t = self.text
        if not t:
            return False
        if self.link_density > MAX_LINK_DENSITY:
            return False
        if self.tag in HEADING_TAGS:
            return True
        # t is clean (single spaces, stripped): words == spaces + 1
        return t.count(" ") >= MIN_CONTENT_WORDS - 1


class _BlockParser(HTMLParser):
    """Single-pass block segmenter over the tag-event stream.

    Every BLOCK_TAG start/end flushes the running buffer, so a buffer
    never spans a block or boilerplate-container boundary — the
    invariant that makes per-block features exact.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._skip = 0
        self._boiler = 0
        self._boiler_stack: list[str] = []  # tags that raised _boiler
        self._a_depth = 0
        self._cur = Block(tag="body", boiler=False)

    # -- buffer management -------------------------------------------------
    def _flush(self, next_tag: str | None = None) -> None:
        cur = self._cur
        if cur.parts:
            self.blocks.append(cur)
            self._cur = Block(
                tag=next_tag or cur.tag, boiler=self._boiler > 0
            )
        else:
            # empty buffer: mutate in place instead of reallocating (the
            # overwhelmingly common case — every block tag event flushes)
            if next_tag is not None:
                cur.tag = next_tag
            cur.boiler = self._boiler > 0

    # -- tag events ---------------------------------------------------------
    @staticmethod
    def _is_boiler_attrs(attrs: list[tuple[str, str | None]]) -> bool:
        for k, v in attrs:
            if k in ("class", "id", "role") and v and BOILER_ATTR_RE.search(v):
                return True
        return False

    def handle_starttag(self, tag, attrs):  # noqa: D401
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        boiler_here = tag in BOILER_TAGS or self._is_boiler_attrs(attrs)
        if boiler_here:
            self._boiler += 1
            self._boiler_stack.append(tag)
        if tag == "a":
            self._a_depth += 1
        if tag in BLOCK_TAGS or boiler_here:
            self._flush(next_tag=tag if tag in BLOCK_TAGS else "div")

    def handle_startendtag(self, tag, attrs):
        if tag in ("br", "hr"):
            self._flush()

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        was_boiler_close = bool(self._boiler_stack) and tag == self._boiler_stack[-1]
        if was_boiler_close:
            self._boiler_stack.pop()
            self._boiler = max(0, self._boiler - 1)
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in BLOCK_TAGS or was_boiler_close:
            self._flush(next_tag="body")

    def handle_data(self, data):
        if self._skip or not data:
            return
        self._cur.parts.append(data)
        n = len(data)
        self._cur.raw_chars += n
        if self._a_depth:
            self._cur.link_chars += n

    def close(self):
        super().close()
        self._flush()


# ---------------------------------------------------------------------------
# Tokenizer: a compiled-regex tag scanner driving the _BlockParser
# event methods (handle_starttag/data/endtag).  ~2-3× faster than
# html.parser's goahead loop (70% of kernel time, profiled); behavior
# is pinned block-for-block by tests/test_fast_backend.py against
# html.parser's own feed()/close() over the same _BlockParser.  Matches
# HTMLParser semantics for: comments, <!decls>, script/style rawtext,
# self-closing tags, charref unescaping in data.
# ---------------------------------------------------------------------------

import html as _htmllib

_TAG_RE = re.compile(
    r"""<(?:
        !--.*?--\s*>                    # terminated comment (unterminated
                                        # handled explicitly in _fast_feed)
      | !\[?[^>]*>?                     # doctype / decl / CDATA-ish
      | \?[^>]*>?                       # processing instruction
      | (/?)                            # 1: close marker
        ([a-zA-Z][a-zA-Z0-9.:_-]*)      # 2: tag name
        ((?:"[^"]*"|'[^']*'|[^>"'])*)   # 3: raw attrs
        (/?)                            # 4: self-closing marker
        >                               # required: an unterminated tag
                                        # is data, as in html.parser
    )""",
    re.DOTALL | re.VERBOSE,
)
_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9_:-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]*)"""
)
_RAWTEXT = {"script", "style"}
# case-insensitive close scan with a tag-boundary delimiter, mirroring
# html.parser's CDATA-mode "interesting" pattern
_RAWTEXT_CLOSE = {
    t: re.compile(r"</\s*%s(?=[\s>/])" % t, re.IGNORECASE) for t in _RAWTEXT
}
_ATTR_HINT = re.compile(r"class|id|role", re.IGNORECASE)
# tags whose start/end events can change parser state; all others with
# no parsed attrs are provably no-ops in the _BlockParser state machine
_INTERESTING = SKIP_TAGS | BOILER_TAGS | BLOCK_TAGS | {"a"}


def _parse_attrs(raw: str) -> list[tuple[str, str | None]]:
    out = []
    for m in _ATTR_RE.finditer(raw):
        v = m.group(2)
        if v and v[0] in "\"'":
            v = v[1:-1]
        if v and "&" in v:  # charrefs in attr values, as html.parser does
            v = _htmllib.unescape(v)
        out.append((m.group(1).lower(), v))
    return out


def _fast_feed(sink: "_BlockParser", text: str) -> None:
    pos = 0
    n = len(text)
    # hot loop: bind lookups once (attribute resolution per tag event
    # measured ~6% of kernel time on the profile)
    find = text.find
    startswith = text.startswith
    tag_match = _TAG_RE.match
    handle_data = sink.handle_data
    handle_starttag = sink.handle_starttag
    handle_endtag = sink.handle_endtag
    unescape = _htmllib.unescape
    interesting = _INTERESTING
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            seg = text[pos:]
            handle_data(unescape(seg) if "&" in seg else seg)
            break
        if lt > pos:
            seg = text[pos:lt]
            handle_data(unescape(seg) if "&" in seg else seg)
        if startswith("<!--", lt) and find("-->", lt) == -1:
            # unterminated comment: html.parser's close() recovery emits
            # data up to just past the next '>' (else next '<', else one
            # char) and keeps tokenizing — mirror CPython goahead(end=1)
            k = find(">", lt + 1)
            if k < 0:
                k = find("<", lt + 1)
                k = lt + 1 if k < 0 else k
            else:
                k += 1
            seg = text[lt:k]
            handle_data(unescape(seg) if "&" in seg else seg)
            pos = k
            continue
        m = tag_match(text, lt)
        if not m:
            handle_data("<")
            pos = lt + 1
            continue
        pos = m.end()
        close, name, raw_attrs, sc = m.group(1, 2, 3, 4)
        if not name:  # comment / decl / PI
            continue
        name = name.lower()
        if close:  # close tag
            if name in interesting:
                handle_endtag(name)
            else:
                # boring close tags only matter when they pop an
                # attr-raised boiler scope (stack top == name); the
                # handle_endtag body is a no-op otherwise
                bs = sink._boiler_stack
                if bs and bs[-1] == name:
                    handle_endtag(name)
            continue
        raw_attrs = raw_attrs or ""
        # self-closing detection mirrors html.parser: the attrs pattern
        # can eat a trailing '/', but only counts as '/>' when that '/'
        # is not part of an unquoted attribute value (i.e. it follows
        # the tag name, whitespace, or a closing quote)
        selfclose = bool(sc)
        if not selfclose and raw_attrs.endswith("/"):
            prev = raw_attrs[-2:-1]
            if prev in ("", " ", "\t", "\n", "\r", '"', "'"):
                selfclose = True
                raw_attrs = raw_attrs[:-1]
        attrs = (
            _parse_attrs(raw_attrs)
            if raw_attrs and _ATTR_HINT.search(raw_attrs)
            else []
        )
        if selfclose:
            if name in ("br", "hr"):  # the only startend tags that act
                sink.handle_startendtag(name, attrs)
            continue
        if name not in interesting and not attrs:
            continue  # boring start tag: provably no state change
        handle_starttag(name, attrs)
        if name in _RAWTEXT:  # skip rawtext content to the closing tag
            cm = _RAWTEXT_CLOSE[name].search(text, pos)
            if cm is None:
                break  # unterminated rawtext: content is skipped anyway
            gt = find(">", cm.start())
            handle_endtag(name)
            pos = (gt + 1) if gt != -1 else n


def html_blocks(html_text: str) -> list[Block]:
    """Segment decoded HTML into block candidates (document order)."""
    p = _BlockParser()
    _fast_feed(p, html_text)
    p._flush()
    return p.blocks


def extract_html_text(html_text: str) -> list[str]:
    """Main-content block texts in document (reading) order, cleaned (F4)
    but NOT yet language-normalized — normalization is per-lang (R7)."""
    return [b.text for b in html_blocks(html_text) if b.is_content()]
