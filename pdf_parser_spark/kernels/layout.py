"""Layout analysis: char → word → line → block grouping + reading order.

From-scratch reimplementation of the text-extraction semantics the reference
delegates to pdfplumber's ``page.extract_text()`` (chars→words→lines layout
grouping, ``pdf_api/core/pdf_analyzer.py:72``) and PyMuPDF's
``extractBLOCKS()`` (``pdf_api/core/pdf_image_extractor.py:188-195``), per
the north_star ("pdfminer-style layout analysis: char→word→line→block
grouping by bbox clustering, reading-order sort").

The kernel works on a page's char columns (``ParsedPage``) with numpy; no
Python object is built per char:

1. reading sort: ``lexsort`` on (-y0, x0, index);
2. lines: walking that order, a char joins the current line while
   ``|y0 - line's first y0| <= line_merge_tol_ratio * size`` (a sequential
   rule, run over plain float lists);
3. within lines: one stable ``lexsort`` on (line, x0, byte_off); per-line
   bounds by ``reduceat``;
4. words: a gap ``x0 - prev x1 > word_gap_ratio * size`` inserts one
   synthetic space unless the previous char is a space;
5. blocks: a new block starts where the previous line's bottom is more than
   ``block_gap_ratio * (line's max size)`` above this line's top; blocks
   are ordered by (-top, left), ties in construction order.

Determinism contract (SURVEY.md §7.3): all thresholds are exact float64
comparisons on writer-controlled coordinates (integers and 0.5 multiples);
sorts use total keys with original-index tie-breakers; text assembly is pure
integer/byte ops with one latin-1 decode per page. The same function runs in
the golden pytest harness and inside the Spark Arrow kernel.
"""
from __future__ import annotations

import numpy as np

from .pdf_mini import ParsedPage
from ..config import ExtractConfig, DEFAULT_CONFIG

__all__ = ["layout_page", "layout_text_and_offsets"]

_SPACE = 0x20
_NEWLINE = 0x0A


def layout_page(page: ParsedPage, cfg: ExtractConfig = DEFAULT_CONFIG) -> list[str]:
    """A page's block texts in reading order (lines joined by newline).

    Memoized on the page object (identity-keyed on cfg): classification
    (``_page_text_len``) and extraction (``layout_text_and_offsets``) both
    need the layout of the same parsed page — without the cache every
    pdf_text/digital turn paid for layout twice. Pure caching; results are
    immutable downstream.
    """
    cached = getattr(page, "_layout_cache", None)
    if cached is not None and cached[0] is cfg:
        return cached[1]
    blocks = _layout_blocks(page, cfg)
    page._layout_cache = (cfg, blocks)
    return blocks


def _layout_blocks(page: ParsedPage, cfg: ExtractConfig) -> list[str]:
    n = len(page.text)
    if not n:
        return []
    x0, x1, y0, size = page.x0, page.x1, page.y0, page.size

    # lines: clustered by baseline walking top-to-bottom (y-up coords);
    # lexsort is stable, so exact (-y0, x0) ties stay in index order
    order = np.lexsort((x0, -y0))
    ys = y0[order].tolist()
    tols = (cfg.line_merge_tol_ratio * size[order]).tolist()
    starts = [0]
    cur_y = ys[0]
    for j in range(1, n):
        if not abs(ys[j] - cur_y) <= tols[j]:
            starts.append(j)
            cur_y = ys[j]
    line_of = np.zeros(n, np.int64)
    line_of[starts] = 1
    # chars left-to-right within each line; exact (x0, byte_off) ties keep
    # the reading-sort order
    perm = order[np.lexsort((page.byte_off[order], x0[order], np.cumsum(line_of)))]

    px0, px1, py0, psize = x0[perm], x1[perm], y0[perm], size[perm]
    ln_y0 = np.minimum.reduceat(py0, starts)
    ln_y1 = np.maximum.reduceat(py0 + psize, starts)
    ln_x0 = np.minimum.reduceat(px0, starts)
    ln_size = np.maximum.reduceat(psize, starts)

    # blocks: gap from the previous line's bottom to this line's top
    split = (ln_y0[:-1] - ln_y1[1:]) > cfg.block_gap_ratio * ln_size[1:]
    blk_line = [0] + (np.flatnonzero(split) + 1).tolist()
    first = [starts[i] for i in blk_line]

    # per-char separator before it: synthetic space inside a line, newline
    # between the lines of a block, nothing at a block start
    codes = np.frombuffer(page.text, np.uint8)[perm]
    sep = np.zeros(n, np.uint8)
    sep[1:][((px0[1:] - px1[:-1]) > cfg.word_gap_ratio * psize[1:])
            & (codes[:-1] != _SPACE)] = _SPACE
    sep[starts] = _NEWLINE
    sep[first] = 0
    has_sep = sep != 0
    pos = np.cumsum(has_sep) + np.arange(n)
    buf = np.empty(int(pos[-1]) + 1, np.uint8)
    buf[pos] = codes
    buf[pos[has_sep] - 1] = sep[has_sep]
    text = buf.tobytes().decode("latin-1")

    bounds = pos[first].tolist() + [len(text)]
    top = np.maximum.reduceat(ln_y1, blk_line)
    left = np.minimum.reduceat(ln_x0, blk_line)
    reading = np.lexsort((left, -top)).tolist()  # stable: ties keep build order
    return [text[bounds[b]:bounds[b + 1]] for b in reading]


def layout_text_and_offsets(
    pages: list[ParsedPage], cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    """Full-document reading-order text + merged byte spans + block count.

    Returns (text, [(byte_start, byte_end) ranges into the raw PDF bytes,
    merged and ordered], n_blocks). Blocks — within a page and across
    pages — are joined by a blank line, lines by newline. Every char lands
    in the text, so the ranges are the runs of consecutive values in the
    sorted distinct byte offsets of all pages' chars.
    """
    blocks: list[str] = []
    for page in pages:
        blocks += layout_page(page, cfg)
    text = "\n\n".join(blocks)
    offs = np.sort(np.concatenate([p.byte_off for p in pages] or [np.empty(0, np.int64)]))
    if not len(offs):
        return text, [], len(blocks)
    # a run breaks where the next distinct offset is not the next integer
    brk = (offs[1:] - offs[:-1]) > 1
    starts = offs[:1].tolist() + offs[1:][brk].tolist()
    ends = (offs[:-1][brk] + 1).tolist() + [int(offs[-1]) + 1]
    return text, list(zip(starts, ends)), len(blocks)


def byte_ranges_to_base64_spans(
    ranges: list[tuple[int, int]], b64_len: int
) -> list[tuple[int, int]]:
    """Map decoded-byte ranges to covering char ranges in the base64 payload.

    base64 maps each 3-byte group to 4 chars; a byte range [b0,b1) is covered
    by base64 chars [floor(b0/3)*4, ceil(b1/3)*4). Deterministic and
    documented as the span contract for pdf payload kinds (spans point into
    the raw ``text`` column per FIXTURES.md §3, which for PDFs is base64).
    """
    spans = [((s // 3) * 4, min(((e + 2) // 3) * 4, b64_len)) for s, e in ranges]
    spans.sort()
    merged: list[tuple[int, int]] = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged
