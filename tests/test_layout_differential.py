"""Differential test: the columnar parse + numpy layout kernel against the
per-char reference (``layout_reference.py``) on Hypothesis-drawn pages.

Both sides must agree on every page's char columns, on the document's
``(text, byte_ranges, n_blocks)`` and on the classification text length.
Pages are drawn to hit the layout rules' edges: interleaved runs on one
baseline, mixed font sizes inside one y-tolerance band, zero and negative
sizes, a literal space before a word gap, escapes and empty literals, two
pages sharing one content stream, and hand-written content streams
(unescaped parens, nested text-op prefixes, unterminated literals).
"""
from __future__ import annotations

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from layout_reference import (
    ref_layout_text_and_offsets,
    ref_page_chars,
    ref_page_text_len,
)
from pdf_parser_spark.config import DEFAULT_CONFIG
from pdf_parser_spark.kernels.layout import layout_text_and_offsets
from pdf_parser_spark.kernels.pdf_classify import _page_text_len
from pdf_parser_spark.kernels.pdf_mini import (
    PageSpec,
    PdfParseError,
    TextRun,
    build_pdf,
    parse_pdf,
)

# baselines a few points apart (one tolerance band at size 10-14) and a
# line or block below; x mostly in a narrow band so runs interleave
_Y = st.sampled_from([700.0, 700.5, 701.0, 702.0, 703.5, 688.0, 676.0, 660.0, 640.0])
_X = st.one_of(
    st.integers(140, 170).map(lambda v: v / 2),
    st.integers(-20, 1100).map(lambda v: v / 2),
)
_SIZE = st.sampled_from([-6.0, -0.5, 0.0, 0.5, 1.0, 6.0, 8.0, 9.5, 10.0, 12.0, 14.0])
_TEXT = st.text(alphabet="ab xy()\\", max_size=8)  # spaces, escapes, empty
_RUN = st.builds(TextRun, x=_X, y=_Y, size=_SIZE, text=_TEXT)
_PAGE = st.builds(lambda runs: PageSpec(text_runs=runs), st.lists(_RUN, max_size=12))


def _share_first_content_stream(raw: bytes) -> bytes:
    """Point page 2's /Contents at page 1's stream (same-width ids, so no
    offset moves; the classic xref table is not cross-checked)."""
    refs = re.findall(rb"/Contents (\d+) 0 R", raw)
    if len(refs) < 2 or len(refs[0]) != len(refs[1]):
        return raw
    return raw.replace(b"/Contents " + refs[1] + b" 0 R", b"/Contents " + refs[0] + b" 0 R", 1)


@st.composite
def _documents(draw) -> bytes:
    pages = draw(st.lists(_PAGE, min_size=1, max_size=3))
    objstm = draw(st.booleans())
    raw = build_pdf(pages, objstm=objstm)
    if not objstm and draw(st.booleans()):
        raw = _share_first_content_stream(raw)
    return raw


_OPS = st.sampled_from([
    b"BT /F1 10 Tf 72 700 Td (ab) Tj ET",
    b"BT /F1 10 Tf 72 700 Td (a\\(b\\\\) Tj ET",
    b"BT /F1 12 Tf 75 701 Td (",
    b"BT /F1 0 Tf 90 700 Td (",
    b"BT /F1 -4 Tf 80 688 Td (",
    b"(", b")", b"\\", b"x", b" ", b"\n", b"Tj ET",
])
_PLACEHOLDER = b"BT /F1 1 Tf 0 0 Td (PLACEHOLDER) Tj ET"


@st.composite
def _raw_streams(draw) -> bytes:
    """A one- or two-page document whose first content stream is raw op
    tokens, the way no writer escapes them."""
    stream = b" ".join(draw(st.lists(_OPS, min_size=1, max_size=14)))
    pages = [PageSpec(text_runs=[TextRun(0, 0, 1, "PLACEHOLDER")])]
    pages += draw(st.lists(_PAGE, max_size=1))
    raw = build_pdf(pages).replace(_PLACEHOLDER, stream, 1)
    return _share_first_content_stream(raw) if draw(st.booleans()) else raw


def _assert_matches_reference(raw: bytes) -> None:
    try:
        ref_pages = ref_page_chars(raw)
    except PdfParseError:
        try:
            parse_pdf(raw)
        except PdfParseError:
            return
        raise AssertionError("reference rejects what the kernel parses")
    doc = parse_pdf(raw)
    assert len(doc.pages) == len(ref_pages)
    for page, chars in zip(doc.pages, ref_pages):
        assert page.text.decode("latin-1") == "".join(c.char for c in chars)
        assert page.x0.tolist() == [c.x0 for c in chars]
        assert page.x1.tolist() == [c.x1 for c in chars]
        assert page.y0.tolist() == [c.y0 for c in chars]
        assert (page.y0 + page.size).tolist() == [c.y1 for c in chars]
        assert page.size.tolist() == [c.size for c in chars]
        assert page.byte_off.tolist() == [c.byte_off for c in chars]
    assert layout_text_and_offsets(doc.pages) == ref_layout_text_and_offsets(ref_pages)
    for page, chars in zip(doc.pages, ref_pages):
        assert _page_text_len(page, DEFAULT_CONFIG) == ref_page_text_len(chars)


@settings(max_examples=300, deadline=None)
@given(_documents())
@example(build_pdf([PageSpec(text_runs=[  # interleaved runs, one baseline
    TextRun(72, 700, 10, "a c e"), TextRun(75, 700, 10, "b d"),
    TextRun(72, 701, 14, "mixed"), TextRun(200, 700, 0, "zero"),
    TextRun(300, 700, -6, "neg"), TextRun(400, 700, 10, "sp "),
    TextRun(430, 700, 10, "gap"), TextRun(72, 640, 10, ""),
])]))
def test_columnar_layout_matches_per_char_reference(raw):
    _assert_matches_reference(raw)


@settings(max_examples=200, deadline=None)
@given(_raw_streams())
def test_raw_content_streams_match_per_char_reference(raw):
    _assert_matches_reference(raw)
