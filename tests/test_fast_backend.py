"""The regex tokenizer behind ``html_blocks`` == the stdlib
``html.parser`` tokenizer, block-for-block (tag, boiler flag, text,
densities), over the same ``_BlockParser`` state machine — the pinning
that lets the fast tokenizer run the kernel without touching goldens."""

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_document_recognition_service_spark import html_extract


def _key(blocks):
    return [
        (b.tag, b.boiler, b.text, b.link_chars, b.raw_chars) for b in blocks
    ]


def _stdlib_blocks(text):
    """Reference: html.parser's own feed()/close() drive the parser."""
    p = html_extract._BlockParser()
    p.feed(text)
    p.close()
    return _key(p.blocks)


def _fast_blocks(text):
    return _key(html_extract.html_blocks(text))


def test_backends_agree_on_corpus(corpus_rows):
    for r in corpus_rows:
        if r["html"][:4] == b"%PDF":
            continue
        t = html_extract.sniff_decode(r["html"])
        assert _stdlib_blocks(t) == _fast_blocks(t), r["url"]


_frag = st.sampled_from(
    [
        "<p>", "</p>", "<div class='ads'>", "</div>", "<nav>", "</nav>",
        "<a href='/x'>", "</a>", "<br/>", "<b>", "<!-- c -->",
        "<script>x<y</script>", "word", "два слова", "&amp;", "&lt;", " ",
        "<", ">", "<h2>", "</h2>", "123", "<p class=\"x\">",
        # review counterexample classes
        "</SCRIPT>", "<script>q", "<!-- open", "<style>s</StYlE >",
        '<div class="nav&#95;bar">', "<p class='x&amp;y'>", "-->",
    ]
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_frag, max_size=40))
def test_backends_agree_property(frags):
    t = "".join(frags)
    assert _stdlib_blocks(t) == _fast_blocks(t)
