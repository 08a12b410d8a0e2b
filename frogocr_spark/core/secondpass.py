"""Two-pass extraction: low-confidence region re-extraction + overlap merge.

Re-expresses FrogOCR's optional second OCR pass over 1-D character
intervals.  Reference semantics preserved exactly (thresholds included):

- J1  quad↔word coverage join: for each candidate region, mean confidence
      of first-pass words with mutual ``coverage > 0.75`` (either
      direction) — ``Source/TaskProcessor.cpp:154-176`` (predicate ``:165``).
- J3  semi-join gate: keep only regions whose J1 mean confidence is
      ``< 0.7`` — ``Source/TaskProcessor.cpp:256-262``.
- A4  majority-vote relaxation: if more than half of the second-pass
      results are confident (``> 0.95``), relax the acceptance threshold to
      ``0.7`` — ``Source/TaskProcessor.cpp:386-401`` (thresholds ``:390,397``).
- J2  word-erasure: a first-pass word with ``conf <= 0.5`` overlapped
      (coverage > 0.75 either direction) by an accepted second-pass word is
      deleted — ``Source/TaskProcessor.cpp:279-331`` (gate ``:287-289``,
      overlap ``:296``); reimplemented declaratively (keep word unless
      gated ∧ overlapped) instead of the reference's in-place erase loop.
- J4  union + A6 confidence average — ``Source/Document.hpp:95-101``.
- U3  coverage = intersection length / own length —
      ``Source/Core/Quad.hpp:49-59`` re-expressed for intervals.

Payload model (FIXTURES.md §2.6): regions wrapped in
``[[LOWCONF]]…[[/LOWCONF]]`` carry REVERSED true text (the deterministic
stand-in for a garbled OCR read).  First pass reads the garbled text at
confidence 0.30; the second-pass recognizer reverses it back at confidence
0.96 (or 0.80 for "hard" regions containing ``?``).  Second-pass word spans
map through the reversal: corrected chars ``[p,q)`` of region ``raw[a:b]``
→ raw interval ``[b-q, b-p)`` (provenance exact; the raw slice is the
reversed text — documented exception to the raw-slice invariant).

Confidence arithmetic stays in float32 like the reference
(``Source/Confidence.hpp:30``) so oracle/Spark parity is bit-exact.
"""

from __future__ import annotations

import bisect
import re
from operator import itemgetter
from dataclasses import dataclass, field

import numpy as np

from .assemble import Block, GLUE_SPACE, Segment
from .sniff import LOWCONF_CLOSE, LOWCONF_OPEN

COVERAGE_THR = 0.75   # J1/J2 overlap predicate   (TaskProcessor.cpp:165,296)
WORD_GATE = 0.5       # J2 erasure gate           (TaskProcessor.cpp:287-289)
QUAD_GATE = 0.7       # J3 region gate            (TaskProcessor.cpp:256-262)
MAJORITY_STRICT = 0.95  # A4                      (TaskProcessor.cpp:390)
MAJORITY_RELAXED = 0.7  # A4                      (TaskProcessor.cpp:397)

FIRSTPASS_CONF = np.float32(0.92)
GARBLED_CONF = np.float32(0.30)
SECONDPASS_CONF = np.float32(0.96)
SECONDPASS_HARD_CONF = np.float32(0.80)

_REGION_RE = re.compile(
    re.escape(LOWCONF_OPEN) + r"(.*?)" + re.escape(LOWCONF_CLOSE), re.DOTALL
)


@dataclass(slots=True)
class Word:
    text: str
    start: int
    end: int
    conf: float
    # reading-order key: equals ``start`` for first-pass words (callers
    # pass it explicitly — no __post_init__ on the hot path); for
    # second-pass words it is region_start + corrected-text offset, so the
    # corrected sequence reads forward even though the provenance spans are
    # mirrored through the reversal (module doc).
    order_key: int = -1
    # losing alternative readings (text, conf) — the reference keeps
    # per-symbol Variants (Document.hpp:22-30); here a first-pass word
    # erased by the J2 replacement becomes a Variant of the second-pass
    # word that covered it
    variants: list = field(default_factory=list)


def interval_coverage(a: tuple[int, int], b: tuple[int, int]) -> float:
    """|a∩b| / |a| — Quad::coverage re-expressed for char intervals."""
    inter = min(a[1], b[1]) - max(a[0], b[0])
    own = a[1] - a[0]
    if own <= 0 or inter <= 0:
        return 0.0
    return inter / own


def overlaps_either(a: tuple[int, int], b: tuple[int, int],
                    thr: float = COVERAGE_THR) -> bool:
    """Mutual-coverage predicate: either direction above ``thr``
    (TaskProcessor.cpp:165 checks both orders)."""
    return interval_coverage(a, b) > thr or interval_coverage(b, a) > thr


def majority_vote_relaxation(confidences: list[float],
                             strict: float = MAJORITY_STRICT,
                             relaxed: float = MAJORITY_RELAXED) -> float:
    """A4: if more than half the candidates are confident (> strict),
    return the relaxed acceptance threshold, else the strict one."""
    n_confident = sum(1 for c in confidences if c > strict)
    return relaxed if 2 * n_confident > len(confidences) else strict


_WORD_RE = re.compile(r"\S+")


def _words_of(text: str, base: int, conf: np.float32) -> list[Word]:
    conf_f = float(conf)
    return [Word(m.group(), base + m.start(), base + m.end(), conf_f,
                 base + m.start())
            for m in _WORD_RE.finditer(text)]


def _first_pass_arrays(raw: str) -> tuple[list[str], list[int], list[int],
                                          list[float],
                                          list[tuple[int, int]]]:
    """Hot-path form of :func:`first_pass`: parallel (texts, starts,
    ends, confs) lists instead of Word objects — first-pass words never
    carry variants, so the per-word dataclass was pure allocation
    overhead on the batch path.  Same scan, same values."""
    texts: list[str] = []
    starts: list[int] = []
    ends: list[int] = []
    confs: list[float] = []
    regions: list[tuple[int, int]] = []

    def scan(seg: str, base: int, conf_f: float) -> None:
        for m in _WORD_RE.finditer(seg):
            texts.append(m.group())
            s, e = m.span()
            starts.append(base + s)
            ends.append(base + e)
            confs.append(conf_f)

    fp_f, gb_f = float(FIRSTPASS_CONF), float(GARBLED_CONF)
    pos = 0
    for m in _REGION_RE.finditer(raw):
        scan(raw[pos:m.start()], pos, fp_f)
        a, b = m.start(1), m.end(1)
        regions.append((a, b))
        scan(raw[a:b], a, gb_f)
        pos = m.end()
    scan(raw[pos:], pos, fp_f)
    return texts, starts, ends, confs, regions


def first_pass(raw: str) -> tuple[list[Word], list[tuple[int, int]]]:
    """Read everything; garbled regions at GARBLED_CONF.  Returns the word
    list plus the candidate region intervals (detector output, X1 analog).
    (Word-object view of :func:`_first_pass_arrays` — the merge hot path
    uses the arrays directly.)"""
    texts, starts, ends, confs, regions = _first_pass_arrays(raw)
    words = [Word(t, s, e, c, s)
             for t, s, e, c in zip(texts, starts, ends, confs)]
    return words, regions


def second_pass_recognize(raw: str, region: tuple[int, int]) -> list[Word]:
    """Recognize one region: reverse the garbled slice back to true text;
    word spans mapped through the reversal (see module doc)."""
    a, b = region
    corrected = raw[a:b][::-1]
    conf = SECONDPASS_HARD_CONF if "?" in corrected else SECONDPASS_CONF
    out: list[Word] = []
    conf_f = float(conf)
    for m in _WORD_RE.finditer(corrected):
        p, q = m.span()
        out.append(Word(m.group(), b - q, b - p, conf_f, order_key=a + p))
    return out


def _merge_two_pass(raw: str, run_second: bool
                    ) -> tuple[list[tuple], float]:
    """The full two-pass merge up to (but not including) Segment/Block
    construction; returns ``(merged, doc_conf)`` where ``merged`` is a
    reading-ordered list of ``(order_key, start, end, text, conf,
    variants)`` tuples (first-pass words never carry variants, so the
    hot path works on parallel lists/tuples; only second-pass words —
    which accumulate J2 variants — are Word objects internally).
    Shared by the scalar :func:`extract_two_pass` and the
    allocation-light batch twin :func:`two_pass_arrays`."""
    texts, starts, ends, confs, regions = _first_pass_arrays(raw)
    if not run_second:
        regions = []
    n_fp = len(texts)
    fp_conf = np.fromiter(confs, np.float32, n_fp)
    # sum/div form is bit-identical to .mean(dtype=float32) (same pairwise
    # umr_sum, same float32 division — asserted over the conf alphabet in
    # tests) but skips numpy's _mean dispatch, which dominates on the tiny
    # per-row arrays this path sees
    fp_mean = (fp_conf.sum(dtype=np.float32) / np.float32(n_fp)
               if n_fp else np.float32(1.0))

    # J1 + J3: regions where the first pass did badly.  First-pass words
    # are disjoint and emitted in increasing-position order, so both their
    # starts and ends are strictly increasing — a bisect window
    # [first end > region.a, first start >= region.b) contains EVERY word
    # with positive intersection (outside it inter <= 0 ⇒ coverage 0 ⇒
    # overlaps_either is False by definition).  Same results as the full
    # scan, O(log W + hits) per region instead of O(W) (path-agreement
    # tested against the exhaustive loop).
    kept_regions: list[tuple[int, int]] = []
    if regions and n_fp:
        for r in regions:
            lo = bisect.bisect_right(ends, r[0])
            hi = bisect.bisect_left(starts, r[1])
            idx = [i for i in range(lo, hi)
                   if overlaps_either((starts[i], ends[i]), r)]
            # same values in the same order → same pairwise float32 sum;
            # the contiguous slice (the common case: every window word
            # overlaps) skips numpy's fancy-index copy
            seg = (fp_conf[lo:hi] if len(idx) == hi - lo
                   else fp_conf[idx])
            mean = (seg.sum(dtype=np.float32) / np.float32(len(idx))
                    if idx else np.float32(1.0))
            if mean < QUAD_GATE:
                kept_regions.append(r)

    sp_words: list[Word] = []
    if kept_regions:
        candidates = [second_pass_recognize(raw, r) for r in kept_regions]
        # A4: acceptance threshold from the majority vote over region confs
        region_confs = [ws[0].conf if ws else 0.0 for ws in candidates]
        threshold = majority_vote_relaxation(region_confs)
        for ws, conf in zip(candidates, region_confs):
            if conf > threshold:
                sp_words.extend(ws)

    # J2: declarative erase — keep fp word unless low-conf AND overlapped.
    # Same bisect-window pruning over the (sorted) second-pass intervals.
    # Merged entries are (order_key, start, end, text, conf, variants)
    # tuples; fp order_key == start.
    merged: list[tuple] = []
    if sp_words and n_fp:
        sp_sorted = sorted(sp_words, key=lambda w: (w.start, w.end))
        sp_ivl = [(w.start, w.end) for w in sp_sorted]
        sp_starts = [s for s, _ in sp_ivl]
        sp_ends = [e for _, e in sp_ivl]

        for j in range(n_fp):
            ws, we, wc = starts[j], ends[j], confs[j]
            # the sp word that erases this fp word (None = kept): J2's
            # gate, winner = max intersection, ties → earliest interval.
            # any sp interval with positive intersection has end > ws
            # and start < we; sp intervals are disjoint (region words),
            # so both bound lists are sorted
            best, best_inter = None, 0
            if wc <= WORD_GATE:
                lo = bisect.bisect_right(sp_ends, ws)
                hi = bisect.bisect_left(sp_starts, we)
                for i in range(lo, hi):
                    if overlaps_either((ws, we), sp_ivl[i]):
                        inter = (min(we, sp_ivl[i][1])
                                 - max(ws, sp_ivl[i][0]))
                        if inter > best_inter:
                            best, best_inter = sp_sorted[i], inter
            if best is None:
                merged.append((ws, ws, we, texts[j], wc, ()))
            else:
                # the losing reading survives as a Variant of its
                # replacement (reference Variant depth, Document.hpp:22-30)
                best.variants.append((texts[j], wc))
    else:
        merged = [(starts[j], starts[j], ends[j], texts[j], confs[j], ())
                  for j in range(n_fp)]
    # J4 union, then W1 stable order on interval start.  Sort key stays
    # EXACTLY (order_key, start, end) — raw tuple order would break ties
    # on text/conf, changing the stable fp-before-sp resolution.
    merged.extend((w.order_key, w.start, w.end, w.text, w.conf,
                   tuple(w.variants)) for w in sp_words)
    merged.sort(key=itemgetter(0, 1, 2))

    if sp_words:
        sp_conf = np.fromiter((w.conf for w in sp_words), np.float32,
                              len(sp_words))
        sp_mean = sp_conf.sum(dtype=np.float32) / np.float32(len(sp_conf))
        doc_conf = float((fp_mean + sp_mean) / np.float32(2.0))  # A6
    else:
        doc_conf = float(fp_mean)
    return merged, doc_conf


def extract_two_pass(raw: str, run_second: bool = True) -> tuple[list[Block], float]:
    """Full two-pass flow; returns (blocks, doc_confidence).

    ``run_second=False`` = the reference with the second pass disabled
    (Settings ``SecondPass=off``): first-pass words only."""
    merged, doc_conf = _merge_two_pass(raw, run_second)
    segs = [Segment(text=t[3], start=t[1], end=t[2],
                    glue=GLUE_SPACE if i else "", confidence=t[4],
                    variants=list(t[5]))
            for i, t in enumerate(merged)]
    blocks = [Block(segments=segs, kind="merged",
                    detector="lowconf", recognizer="twopass")] if segs else []
    return blocks, doc_conf


def two_pass_arrays(raw: str, run_second: bool = True,
                    min_conf: float = 0.0
                    ) -> tuple[str, list[tuple[int, int]], int, int, float]:
    """Allocation-light batch twin of :func:`extract_two_pass` + the F7
    word-confidence gate + ``assemble.prune_empty`` + ``assemble.assemble``:
    the merged words go STRAIGHT to the output arrays — no Segment/Block
    objects, no prune walk (every Word text is ``\\S+`` so pruning can
    never drop one).  ``min_conf > 0`` keeps only merged words with
    ``conf >= min_conf`` (Settings ``MinWordConfidence``); the document
    confidence is the merge's either way.  Returns ``(extracted_text,
    span_pairs, n_spans, n_variants, doc_conf)``; ``n_blocks`` is ``1 if
    n_spans else 0`` by construction (the merge emits a single Block).
    Byte/bit parity with the scalar path is asserted row-by-row in
    tests/test_extract.py."""
    merged, doc_conf = _merge_two_pass(raw, run_second)
    if min_conf > 0:
        merged = [t for t in merged if t[4] >= min_conf]
    text = " ".join(t[3] for t in merged)
    spans = [(t[1], t[2]) for t in merged]
    n_var = sum(len(t[5]) for t in merged)
    return text, spans, len(merged), n_var, doc_conf
