"""Per-char reference for the PDF text path: one Python object per char.

This is the object-per-char implementation that ``kernels/pdf_mini.py``
(text columns) and ``kernels/layout.py`` (numpy layout) replaced, kept
only as a test oracle for ``test_layout_differential.py``: the content
stream ``Tj`` walk, line grouping, word gaps, block split, reading order
and byte-range merge, written the straightforward way. The object-level
parse (object scan, ObjStm unpacking) is shared with the kernel.
"""
from __future__ import annotations

import re
from typing import NamedTuple

from pdf_parser_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf_parser_spark.kernels.pdf_mini import (
    CHAR_WIDTH_RATIO,
    PdfParseError,
    _parse_objects,
    _stream_of,
    _unpack_object_streams,
)

_NUM = rb"(-?\d+(?:\.\d+)?)"
_TEXT_OP = re.compile(rb"BT /F1 " + _NUM + rb" Tf " + _NUM + rb" " + _NUM + rb" Td \(")


class RefChar(NamedTuple):
    char: str
    x0: float
    y0: float
    x1: float
    y1: float
    size: float
    byte_off: int


class RefLine(NamedTuple):
    chars: list[RefChar]
    y0: float
    y1: float
    x0: float


class RefBlock(NamedTuple):
    lines: list[RefLine]
    x0: float
    y1: float


def _read_literal(data: bytes, start: int) -> list[tuple[str, int]]:
    out: list[tuple[str, int]] = []
    i = start
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C and i + 1 < n:
            out.append((chr(data[i + 1]), i))
            i += 2
        elif c == 0x29:
            return out
        else:
            out.append((chr(c), i))
            i += 1
    raise PdfParseError("unterminated literal")


def ref_page_chars(data: bytes) -> list[list[RefChar]]:
    """Every page's chars, in content-stream order."""
    objs, offs, _heads = _parse_objects(data)
    _unpack_object_streams(objs, offs)
    kids: list[int] = []
    for body in objs.values():
        if b"/Type /Pages" in body:
            m = re.search(rb"/Kids \[([^\]]*)\]", body)
            if m:
                kids = [int(x) for x in re.findall(rb"(\d+) 0 R", m.group(1))]
            break
    pages = []
    for pid in kids:
        cid = int(re.search(rb"/Contents (\d+) 0 R", objs[pid]).group(1))
        cbody = objs[cid]
        stream = _stream_of(cbody)
        sbase = offs[cid] + cbody.find(b"stream\n") + len(b"stream\n")
        chars: list[RefChar] = []
        for m in _TEXT_OP.finditer(stream):
            size = float(m.group(1))
            x = float(m.group(2))
            y = float(m.group(3))
            cw = CHAR_WIDTH_RATIO * size
            for k, (ch, off) in enumerate(_read_literal(stream, m.end())):
                chars.append(
                    RefChar(ch, x + k * cw, y, x + (k + 1) * cw, y + size, size, sbase + off)
                )
        pages.append(chars)
    return pages


def _line_text(line: RefLine, cfg: ExtractConfig) -> tuple[str, list[int]]:
    parts: list[str] = []
    offs: list[int] = []
    prev = None
    for ch in line.chars:
        if prev is not None and (ch.x0 - prev.x1) > cfg.word_gap_ratio * ch.size:
            if parts and parts[-1] != " ":
                parts.append(" ")
                offs.append(-1)
        parts.append(ch.char)
        offs.append(ch.byte_off)
        prev = ch
    while parts and parts[-1] == " " and offs[-1] == -1:
        parts.pop()
        offs.pop()
    return "".join(parts), offs


def _mk_line(chs: list[RefChar]) -> RefLine:
    chs = sorted(chs, key=lambda c: (c.x0, c.byte_off))
    return RefLine(
        chars=chs,
        y0=min(c.y0 for c in chs),
        y1=max(c.y1 for c in chs),
        x0=min(c.x0 for c in chs),
    )


def _group_lines(chars: list[RefChar], cfg: ExtractConfig) -> list[RefLine]:
    if not chars:
        return []
    order = sorted(range(len(chars)), key=lambda i: (-chars[i].y0, chars[i].x0, i))
    lines: list[RefLine] = []
    cur: list[RefChar] = []
    cur_y = None
    for i in order:
        ch = chars[i]
        if cur_y is None or abs(ch.y0 - cur_y) <= cfg.line_merge_tol_ratio * ch.size:
            cur.append(ch)
            if cur_y is None:
                cur_y = ch.y0
        else:
            lines.append(_mk_line(cur))
            cur = [ch]
            cur_y = ch.y0
    if cur:
        lines.append(_mk_line(cur))
    return lines


def _mk_block(lines: list[RefLine]) -> RefBlock:
    return RefBlock(
        lines=lines,
        x0=min(ln.x0 for ln in lines),
        y1=max(ln.y1 for ln in lines),
    )


def ref_layout_page(chars: list[RefChar], cfg: ExtractConfig = DEFAULT_CONFIG) -> list[RefBlock]:
    blocks: list[RefBlock] = []
    cur: list[RefLine] = []
    for ln in _group_lines(chars, cfg):
        if cur:
            gap = cur[-1].y0 - ln.y1
            size = max(c.size for c in ln.chars)
            if gap > cfg.block_gap_ratio * size:
                blocks.append(_mk_block(cur))
                cur = []
        cur.append(ln)
    if cur:
        blocks.append(_mk_block(cur))
    blocks.sort(key=lambda b: (-b.y1, b.x0))
    return blocks


def ref_page_text_len(chars: list[RefChar], cfg: ExtractConfig = DEFAULT_CONFIG) -> int:
    n = 0
    for k, blk in enumerate(ref_layout_page(chars, cfg)):
        if k:
            n += 2
        line_texts = [_line_text(ln, cfg)[0] for ln in blk.lines]
        n += sum(len(t) for t in line_texts) + max(0, len(line_texts) - 1)
    return n


def ref_layout_text_and_offsets(
    pages: list[list[RefChar]], cfg: ExtractConfig = DEFAULT_CONFIG
) -> tuple[str, list[tuple[int, int]], int]:
    out_parts: list[str] = []
    byte_ranges: list[tuple[int, int]] = []
    n_blocks = 0
    for chars in pages:
        for blk in ref_layout_page(chars, cfg):
            n_blocks += 1
            if out_parts:
                out_parts.append("\n\n")
            line_texts: list[str] = []
            for ln in blk.lines:
                text, offs = _line_text(ln, cfg)
                line_texts.append(text)
                run_start = prev_off = None
                for off in offs:
                    if off < 0:
                        continue
                    if run_start is None:
                        run_start = off
                    elif off != prev_off + 1:
                        byte_ranges.append((run_start, prev_off + 1))
                        run_start = off
                    prev_off = off
                if run_start is not None:
                    byte_ranges.append((run_start, prev_off + 1))
            out_parts.append("\n".join(line_texts))
    byte_ranges.sort()
    merged: list[tuple[int, int]] = []
    for s, e in byte_ranges:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return "".join(out_parts), merged, n_blocks
