"""Layout segmentation + reading-order recovery for ``pdf_layout`` payloads.

Payload format (FIXTURES.md §2.2): whitespace-separated tokens
``@x,y,w,h|text`` emitted in arbitrary order (two-column layouts, running
headers/footers).  The extractor must rebuild reading order.

Reference semantics re-expressed:

- Reading-order sort W1: sort quads by ``(y, x)`` then one bubble pass that
  swaps adjacent quads whose ``y`` differs by < 10 units but whose ``x`` is
  out of order — reference ``Source/Paddle/PaddleTextDetector.cpp:337-352``
  (the 10px tie-band), reimplemented verbatim in :func:`reading_order`.
- Geometry filter F5: drop boxes with a side < 4 units — reference
  ``Source/Paddle/PaddleTextDetector.cpp:234-238``.
- Candidate cap W6: at most 1000 boxes considered — reference
  ``Source/Paddle/PaddleTextDetector.cpp:161-162,168``.
- Header/footer strip: boxes in the top band (``y < HEADER_Y``) or bottom
  band (``y >= FOOTER_Y``) are boilerplate (running header / page number) —
  the transcript analog of crop-projection F4
  (``Source/IntegratedTextDetector.cpp:6-33``).
- Line grouping: after ordering, consecutive boxes within the same y-band
  form one line (words joined by a space); lines joined by newline —
  block/line/word assembly analog
  (``Source/Tesseract/TesseractTextRecognizer.cpp:169-207``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from operator import itemgetter

from .assemble import Block, GLUE_LINE, GLUE_SPACE, Segment

BAND_PX = 10          # W1 tie-band           (PaddleTextDetector.cpp:345)
MIN_SIDE = 4          # F5 min box side       (PaddleTextDetector.cpp:234-238)
MAX_BOXES = 1000      # W6 candidate cap      (PaddleTextDetector.cpp:161-162)
HEADER_Y = 50         # header band limit (engine constant, see module doc)
FOOTER_Y = 750        # footer band limit

_TOKEN_RE = re.compile(r"@(\d+),(\d+),(\d+),(\d+)\|(\S+)")


@dataclass(slots=True)
class Box:
    x: int
    y: int
    w: int
    h: int
    text: str
    start: int  # char offset of `text` in the raw payload
    end: int


def parse_layout(raw: str) -> list[Box]:
    """Tokenize ``@x,y,w,h|text`` runs with raw char offsets."""
    return [Box(int(m[1]), int(m[2]), int(m[3]), int(m[4]), m[5],
                m.start(5), m.end(5))
            for m in _TOKEN_RE.finditer(raw)]


def reading_order(boxes: list[Box], band: int = BAND_PX) -> list[Box]:
    """W1: stable ``(y, x)`` sort + single adjacent-swap pass inside y-bands.

    Exactly the reference algorithm (PaddleTextDetector.cpp:337-352): after
    the primary sort, one forward bubble pass swaps ``boxes[i]`` and
    ``boxes[i+1]`` when ``|y_i - y_{i+1}| < band`` and ``x_{i+1} < x_i``.
    """
    out = sorted(boxes, key=lambda b: (b.y, b.x))
    for i in range(len(out) - 1):
        if abs(out[i + 1].y - out[i].y) < band and out[i + 1].x < out[i].x:
            out[i], out[i + 1] = out[i + 1], out[i]
    return out


def filter_boxes(boxes: list[Box]) -> list[Box]:
    """F5 min-side filter + header/footer strip + W6 cap (in that order)."""
    kept = [b for b in boxes if b.w >= MIN_SIDE and b.h >= MIN_SIDE
            and HEADER_Y <= b.y < FOOTER_Y]
    return kept[:MAX_BOXES]


def group_lines(ordered: list[Box], band: int = BAND_PX) -> list[list[Box]]:
    """Consecutive ordered boxes within ``band`` vertical distance = one line."""
    lines: list[list[Box]] = []
    for b in ordered:
        if lines and abs(b.y - lines[-1][-1].y) < band:
            lines[-1].append(b)
        else:
            lines.append([b])
    return lines


def extract_pdf_layout(raw: str) -> list[Block]:
    """Full pdf_layout extraction → one Block per line of reading order."""
    boxes = filter_boxes(parse_layout(raw))
    ordered = reading_order(boxes)
    blocks: list[Block] = []
    for line in group_lines(ordered):
        segs = [
            Segment(text=b.text, start=b.start, end=b.end,
                    glue=GLUE_SPACE if i else GLUE_LINE)
            for i, b in enumerate(line)
        ]
        blocks.append(Block(segments=segs, kind="line",
                            detector="xycut", recognizer="layout"))
    return blocks


_YX = itemgetter(0, 1)


def pdf_arrays(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """Allocation-light batch twin of :func:`extract_pdf_layout` +
    ``assemble.prune_empty`` + ``assemble.assemble``: the same parse →
    F5/band filter → W6 cap → (y, x) stable sort → W1 bubble pass → line
    grouping pipeline, fused over bare ``(y, x, text, start, end)``
    tuples — no Box/Segment/Block objects, no prune walk (box texts are
    ``\\S+`` so pruning can never drop one); confidence is the constant
    1.0.  Equivalences with the scalar path: breaking the parse once
    MAX_BOXES boxes are KEPT equals ``kept[:MAX_BOXES]`` (later boxes are
    discarded either way); ``list.sort(key=itemgetter(0, 1))`` over parse
    order is the same stable permutation as ``sorted(boxes, key=lambda
    b: (b.y, b.x))``.  Returns ``(extracted_text, span_pairs, n_blocks,
    n_spans)``; parity with the scalar path is asserted row-by-row in
    tests/test_extract.py."""
    kept: list[tuple[int, int, str, int, int]] = []
    for m in _TOKEN_RE.finditer(raw):
        sx, sy, sw, sh, text = m.group(1, 2, 3, 4, 5)
        if int(sw) >= MIN_SIDE and int(sh) >= MIN_SIDE:
            y = int(sy)
            if HEADER_Y <= y < FOOTER_Y:
                kept.append((y, int(sx), text, m.start(5), m.end(5)))
                if len(kept) == MAX_BOXES:
                    break
    kept.sort(key=_YX)
    band = BAND_PX
    for i in range(len(kept) - 1):
        a = kept[i]
        b = kept[i + 1]
        if abs(b[0] - a[0]) < band and b[1] < a[1]:
            kept[i], kept[i + 1] = b, a
    parts: list[str] = []
    spans: list[tuple[int, int]] = []
    n_blocks = 0
    prev_y = 0
    for t in kept:
        y = t[0]
        if n_blocks and abs(y - prev_y) < band:
            parts.append(GLUE_SPACE)
        else:
            if n_blocks:
                parts.append(GLUE_LINE)
            n_blocks += 1
        parts.append(t[2])
        spans.append((t[3], t[4]))
        prev_y = y
    return "".join(parts), spans, n_blocks, len(spans)
