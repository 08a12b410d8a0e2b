"""HTML boilerplate stripping via text-density / link-density block scoring.

The transcript analog of FrogOCR's confidence-thresholded detection filter
(score < 0.6 dropped — reference ``Source/Paddle/PaddleTextDetector.cpp:
160-205``) and word-confidence gates (``Source/TaskProcessor.cpp:287-289``),
re-expressed as Boilerpipe/Readability-style block classification:

- The payload is tokenized into tags and text runs by one regex scan
  (offset-preserving — spans point into the raw payload).
- Block-level tags open/close blocks; a tag-name blacklist
  (nav/header/footer/aside/script/style + their subtrees) marks hard
  boilerplate (detection-score-zero analog).
- Per block: ``link_density`` = chars inside ``<a>`` / total chars;
  ``word_count``.  A block is content iff it is not blacklisted,
  ``link_density <= MAX_LINK_DENSITY`` and ``word_count >= MIN_WORDS``
  (the 0.6-score and min-size thresholds re-expressed).

Deterministic, single pass, no DOM library (regex state machine — the
HTML-ish fixtures of FIXTURES.md §2.1 are well-formed enough).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .assemble import Block, GLUE_SPACE, Segment

MAX_LINK_DENSITY = 1.0 / 3.0   # F6 score-threshold analog (0.6 gate)
MIN_WORDS = 4                  # F5 min-size analog

BLACKLIST = frozenset({"nav", "header", "footer", "aside", "script", "style"})
BLOCK_TAGS = frozenset({
    "p", "div", "article", "section", "li", "ul", "ol", "table", "tr", "td",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "body", "html",
    "main", "nav", "header", "footer", "aside",
})

_TAG_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)(?:\s[^<>]*)?/?>")


@dataclass(slots=True)
class _RawBlock:
    segments: list[Segment] = field(default_factory=list)
    chars: int = 0
    link_chars: int = 0
    words: int = 0
    blacklisted: bool = False


def _classify(b: _RawBlock) -> bool:
    if b.blacklisted or b.chars == 0:
        return False
    if b.link_chars / b.chars > MAX_LINK_DENSITY:
        return False
    return b.words >= MIN_WORDS


def html_arrays(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """Allocation-light batch twin of :func:`extract_html` +
    ``assemble.prune_empty`` + ``assemble.assemble``: the same tag scan
    and block classification, but kept segments go straight to the
    output arrays — no Segment/_RawBlock/Block objects, no closure flush,
    no prune walk (segments are non-whitespace by construction);
    confidence is the constant 1.0 (every html Segment carries
    confidence 1.0 and no variants).  html's intra-block glue is always
    a single space (first-in-block gets the line glue), so a kept block's
    text is exactly ``" ".join(texts)`` and blocks join with ``"\\n"``.
    The scalar path's ``stack`` bookkeeping is dropped here: nothing
    observable reads it (it only pops itself).  Returns
    ``(extracted_text, span_pairs, n_blocks, n_spans)``; row-by-row
    parity with the scalar oracle in tests/test_extract.py."""
    block_strs: list[str] = []
    spans: list[tuple[int, int]] = []
    seg_texts: list[str] = []
    seg_spans: list[tuple[int, int]] = []
    chars = 0
    link_chars = 0
    words = 0
    blacklisted = False
    black_depth = 0
    link_depth = 0
    pos = 0
    for m in _TAG_RE.finditer(raw):
        st, en = m.span()
        text = raw[pos:st]
        seg_text = text.strip()
        if seg_text:
            s = pos + (len(text) - len(text.lstrip()))
            seg_texts.append(seg_text)
            seg_spans.append((s, s + len(seg_text)))
            n = len(seg_text)
            chars += n
            words += len(seg_text.split())
            if link_depth > 0:
                link_chars += n
            if black_depth > 0:
                blacklisted = True
        pos = en

        g1, g2 = m.group(1, 2)
        name = g2.lower()
        if name == "a":
            if g1:
                if link_depth:
                    link_depth -= 1
            else:
                link_depth += 1
        elif name in BLOCK_TAGS:
            if seg_texts:   # flush + classify inline
                if (not blacklisted and words >= MIN_WORDS
                        and link_chars / chars <= MAX_LINK_DENSITY):
                    block_strs.append(" ".join(seg_texts))
                    spans.extend(seg_spans)
                seg_texts = []
                seg_spans = []
                chars = link_chars = words = 0
                blacklisted = False
            if name in BLACKLIST:
                if g1:
                    if black_depth:
                        black_depth -= 1
                else:
                    black_depth += 1
    tail = raw[pos:]
    seg_text = tail.strip()
    if seg_text:
        s = pos + (len(tail) - len(tail.lstrip()))
        seg_texts.append(seg_text)
        seg_spans.append((s, s + len(seg_text)))
        chars += len(seg_text)
        words += len(seg_text.split())
        if black_depth > 0:
            blacklisted = True
        if link_depth > 0:
            link_chars += len(seg_text)
    if seg_texts:
        if (not blacklisted and words >= MIN_WORDS
                and link_chars / chars <= MAX_LINK_DENSITY):
            block_strs.append(" ".join(seg_texts))
            spans.extend(seg_spans)
    return "\n".join(block_strs), spans, len(block_strs), len(spans)


def extract_html(raw: str) -> list[Block]:
    """Strip boilerplate; return kept content blocks with raw-offset spans."""
    blocks: list[_RawBlock] = []
    cur = _RawBlock()
    stack: list[str] = []          # open block-level tags
    black_depth = 0                # nesting depth inside blacklisted subtrees
    link_depth = 0
    pos = 0

    def flush() -> None:
        # an empty cur is pristine (every field is only touched when a
        # segment lands), so it is reused instead of reallocated — flush
        # runs twice per block element, mostly on empty blocks
        nonlocal cur
        if cur.segments:
            blocks.append(cur)
            cur = _RawBlock()

    for m in _TAG_RE.finditer(raw):
        text = raw[pos:m.start()]
        # str.strip()/lstrip() strip exactly the str.isspace() set, so
        # this arithmetic equals trim_span(raw, pos, m.start()) without
        # the per-char loop (golden fixture tests pin the outputs)
        seg_text = text.strip()
        if seg_text:
            s = pos + (len(text) - len(text.lstrip()))
            e = s + len(seg_text)
            cur.segments.append(Segment(
                text=seg_text, start=s, end=e,
                glue=GLUE_SPACE if cur.segments else "",
            ))
            cur.chars += len(seg_text)
            cur.words += len(seg_text.split())
            if link_depth > 0:
                cur.link_chars += len(seg_text)
            if black_depth > 0:
                cur.blacklisted = True
        pos = m.end()

        g1, g2 = m.group(1, 2)
        closing, name = g1 == "/", g2.lower()
        if name == "a":
            link_depth = max(0, link_depth - 1) if closing else link_depth + 1
        elif name in BLOCK_TAGS:
            flush()
            if name in BLACKLIST:
                if closing:
                    black_depth = max(0, black_depth - 1)
                else:
                    black_depth += 1
            if closing:
                if name in stack:
                    while stack and stack[-1] != name:
                        stack.pop()
                    if stack:
                        stack.pop()
            else:
                stack.append(name)
    tail = raw[pos:]
    seg_text = tail.strip()
    if seg_text:
        s = pos + (len(tail) - len(tail.lstrip()))
        e = s + len(seg_text)
        cur.segments.append(Segment(text=seg_text, start=s, end=e,
                                    glue=GLUE_SPACE if cur.segments else ""))
        cur.chars += len(seg_text)
        cur.words += len(seg_text.split())
        if black_depth > 0:
            cur.blacklisted = True
        if link_depth > 0:
            cur.link_chars += len(seg_text)
    flush()

    out: list[Block] = []
    for rb in blocks:
        if _classify(rb):
            out.append(Block(segments=rb.segments, kind="content",
                             detector="density", recognizer="html"))
    return out
