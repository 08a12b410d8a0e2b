"""Markdown markup strip with span tracking (FIXTURES.md §2.3).

Scalar string-op semantics re-expressed from the reference's string core
(SURVEY §2.7 C1–C5): ``split`` → per-line scan, ``erase_substring`` /
``replace_substring`` (``Source/Core/String.cpp:74-108``) → marker removal
producing kept sub-intervals so every extracted character keeps a raw-offset
provenance span.

Rules (deterministic, line-oriented):

- Code-fence marker lines (opening/closing ```` ``` ````) are dropped;
  the fenced content lines are kept verbatim.
- Leading heading markers ``#{1,6} ``, blockquote markers ``> `` (repeated),
  and list bullets ``- `` / ``* `` / ``1. `` are stripped from line starts.
- Inline: ``[text](url)`` keeps only ``text``; ``**x**``, ``*x*``, ``_x_``,
  ``__x__`` and `` `x` `` keep only ``x``.
- Lines emptied by stripping are dropped (empty-cascade F8 analog).
"""

from __future__ import annotations

import re

from .assemble import Block, GLUE_NONE, Segment

_HEAD_RE = re.compile(r"^(#{1,6}\s+|(?:>\s+)+|[-*]\s+|\d+\.\s+)")
_INLINE_RE = re.compile(
    r"\[([^\]\n]+)\]\(([^)\n]*)\)"      # link: keep group 1
    r"|(\*\*|__)([^*_\n]+)\3"           # strong: keep group 4
    r"|(\*|_)([^*_\n]+)\5"              # em: keep group 6
    r"|`([^`\n]+)`"                     # code: keep group 7
)
_FENCE_RE = re.compile(r"^\s*```")


def markdown_arrays(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """Allocation-light batch twin of :func:`extract_markdown` +
    ``assemble.prune_empty`` + ``assemble.assemble``: the same line/piece
    scan, but kept pieces go straight to the output arrays — no
    Segment/Block objects and no prune walk (whitespace-only pieces are
    already skipped here); confidence is the constant 1.0 (markdown
    Segments carry confidence 1.0 and no variants).  Glue is exactly the
    scalar rule: ``" "`` before a piece only when a whitespace-only piece
    preceded it within the line (``pending_space``), nothing otherwise;
    kept lines join with ``"\\n"``.  Returns ``(extracted_text,
    span_pairs, n_blocks, n_spans)``; row-by-row parity with the scalar
    oracle in tests/test_extract.py."""
    block_strs: list[str] = []
    spans: list[tuple[int, int]] = []
    n_blocks = 0
    offset = 0
    for line in raw.split("\n"):
        line_start, line_len = offset, len(line)
        offset += line_len + 1
        if _FENCE_RE.match(line):
            continue
        content_begin = 0
        hm = _HEAD_RE.match(line)
        if hm:
            content_begin = hm.end()
        pieces: list[tuple[int, int]] = []
        pos = content_begin
        for m in _INLINE_RE.finditer(line, content_begin):
            ms = m.start()
            if ms > pos:
                pieces.append((pos, ms))
            for gi in (1, 4, 6, 7):
                if m.group(gi) is not None:
                    pieces.append(m.span(gi))
                    break
            pos = m.end()
        if pos < line_len:
            pieces.append((pos, line_len))
        parts: list[str] = []
        pending_space = False
        for a, b in pieces:
            piece = line[a:b]
            if not piece.strip():
                pending_space = True
                continue
            if parts and pending_space:
                parts.append(" ")
            parts.append(piece)
            spans.append((line_start + a, line_start + b))
            pending_space = False
        if parts:
            block_strs.append("".join(parts))
            n_blocks += 1
    return "\n".join(block_strs), spans, n_blocks, len(spans)


def extract_markdown(raw: str) -> list[Block]:
    """One Block per kept line; segments are the kept raw sub-intervals."""
    blocks: list[Block] = []
    offset = 0
    for line in raw.split("\n"):
        line_start, line_len = offset, len(line)
        offset += line_len + 1
        if _FENCE_RE.match(line):
            continue
        content_begin = 0
        hm = _HEAD_RE.match(line)
        if hm:
            content_begin = hm.end()
        pieces: list[tuple[int, int]] = []
        pos = content_begin
        for m in _INLINE_RE.finditer(line, content_begin):
            if m.start() > pos:
                pieces.append((pos, m.start()))
            for gi in (1, 4, 6, 7):
                if m.group(gi) is not None:
                    pieces.append((m.start(gi), m.end(gi)))
                    break
            pos = m.end()
        if pos < line_len:
            pieces.append((pos, line_len))
        # whitespace-only pieces between kept pieces collapse into one
        # space of glue on the following segment (spans stay exact)
        segs: list[Segment] = []
        pending_space = False
        for a, b in pieces:
            piece = line[a:b]
            if not piece.strip():
                pending_space = True
                continue
            segs.append(Segment(
                text=piece, start=line_start + a, end=line_start + b,
                glue=" " if pending_space and segs else GLUE_NONE))
            pending_space = False
        if segs:
            blocks.append(Block(segments=segs, kind="line",
                                detector="markdown", recognizer="rules"))
    return blocks
