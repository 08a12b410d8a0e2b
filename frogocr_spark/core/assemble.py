"""Span-level text assembly + empty-cascade pruning.

Re-expresses FrogOCR's document assembly semantics over 1-D character
intervals instead of 2-D pixel boxes:

- ``merge_strings(vec, glue)`` — reference ``Source/Core/String.cpp:110-132``
  → :func:`assemble` joins line texts with ``"\\n"`` and word segments
  within a line with ``" "`` or ``""`` (per-segment ``glue`` flag).
- Empty-node pruning cascade (words→lines→blocks deleted when emptied) —
  reference ``Source/TaskProcessor.cpp:311-331``, ``Source/Alto/Alto.cpp:32-40``,
  ``Source/Alto/WriteXml.cpp:73-75,90-92`` → :func:`prune_empty`.
- Whitespace-only words dropped at write time —
  reference ``Source/Alto/WriteXml.cpp:90-92`` → segments whose raw slice is
  whitespace-only are dropped and counted.

Span convention (the per-turn output contract):

``spans`` is a flat ordered list of ``(start, end)`` character intervals
into the RAW payload.  Invariant: for every span ``raw[start:end]`` equals
the corresponding kept segment's text (before any unescaping the class
extractor documents).  ``extracted_text`` is the segment texts joined with
each segment's glue (``""``, ``" "`` or ``"\\n"``) — so the spans fully
locate the provenance of every extracted character.
"""

from __future__ import annotations

from dataclasses import dataclass, field

GLUE_NONE = ""
GLUE_SPACE = " "
GLUE_LINE = "\n"


@dataclass(slots=True)
class Segment:
    """One kept run of characters.

    ``text`` is what enters ``extracted_text``; ``start``/``end`` locate it
    in the raw payload; ``glue`` is the separator inserted BEFORE this
    segment (ignored for the first segment).
    """

    text: str
    start: int
    end: int
    glue: str = GLUE_LINE
    confidence: float = 1.0
    # alternative readings (text, confidence) — the Variant depth of the
    # reference's output model (Source/Document.hpp:22-30: Symbol/Word
    # carry std::vector<Variant>); populated by the two-pass merge when
    # a reading loses the J2 replacement (core/secondpass.py)
    variants: list[tuple[str, float]] = field(default_factory=list)


@dataclass(slots=True)
class Block:
    """A content block (FrogOCR Block analog — ``Source/Document.hpp:68-77``)."""

    segments: list[Segment] = field(default_factory=list)
    kind: str = "text"
    detector: str = "integrated"
    recognizer: str = "rules"
    confidence: float = 1.0


def trim_span(raw: str, start: int, end: int) -> tuple[int, int]:
    """Shrink ``[start,end)`` past leading/trailing whitespace in ``raw``.

    The span-trimming analog of ``trim_string_view`` — reference
    ``Source/Core/String.cpp:40-58``.
    """
    while start < end and raw[start].isspace():
        start += 1
    while end > start and raw[end - 1].isspace():
        end -= 1
    return start, end


def prune_empty(blocks: list[Block]) -> tuple[list[Block], int]:
    """Empty-cascade pruning: drop whitespace-only segments, then empty blocks.

    Returns ``(kept_blocks, n_dropped_segments)``.  Mirrors the reference's
    delete-parent-when-children-emptied loop (``TaskProcessor.cpp:311-331``).
    """
    kept: list[Block] = []
    dropped = 0
    for b in blocks:
        segs = [s for s in b.segments if s.text.strip()]
        dropped += len(b.segments) - len(segs)
        if segs:
            kept.append(Block(segments=segs, kind=b.kind, detector=b.detector,
                              recognizer=b.recognizer, confidence=b.confidence))
    return kept, dropped


def assemble(blocks: list[Block]) -> tuple[str, list[tuple[int, int]]]:
    """Join kept segments into ``(extracted_text, spans)``.

    Blocks are separated by ``"\\n"`` regardless of the first segment's own
    glue; within a block each segment contributes ``glue + text``.
    Deterministic positional enumeration = the ALTO positional-ID ordering
    (reference ``Source/Alto/WriteXml.cpp:130-137``).
    """
    parts: list[str] = []
    spans: list[tuple[int, int]] = []
    for bi, b in enumerate(blocks):
        for si, seg in enumerate(b.segments):
            if bi == 0 and si == 0:
                glue = ""
            elif si == 0:
                glue = GLUE_LINE
            else:
                glue = seg.glue
            parts.append(glue + seg.text)
            spans.append((seg.start, seg.end))
    return "".join(parts), spans


def mean_confidence(blocks: list[Block]) -> float:
    """Mean segment confidence over the document (A1 analog — reference
    ``Source/Tesseract/TesseractTextRecognizer.cpp:348-363``).  1.0 when empty
    (the reference's Confidence default — ``Source/Confidence.hpp:5-32``)."""
    confs = [s.confidence for b in blocks for s in b.segments]
    if not confs:
        return 1.0
    return float(sum(confs) / len(confs))
